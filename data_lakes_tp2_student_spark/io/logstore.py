"""Storage backends for the manifest commit log (io/manifest.py).

The manifest layer needs exactly one hard primitive — ATOMIC PUT-IF-ABSENT
of the next log entry — plus a handful of soft ones (list, read, delete,
data-file enumeration). This module factors them behind a `LogStore`
interface so the same commit protocol runs against either backend:

- **LocalLogStore** — `os.link` is the POSIX/HDFS rename-no-overwrite
  primitive, `os.walk` enumerates data files, reads are direct paths.
- **S3LogStore** — the public S3 conditional-write primitive:
  `PutObject` with `If-None-Match: *` fails with HTTP 412
  `PreconditionFailed` when the key already exists (generally available
  on Amazon S3 since 2024, supported by moto/MinIO/GCS-interop), which
  is exactly put-if-absent — no DynamoDB side-channel needed anymore.
  S3 object PUTs are atomic (a key is never partially visible) and
  ListObjectsV2 is strongly read-after-write consistent (AWS, Dec 2020),
  so list-then-max version resolution is sound.

Data-file transport on S3: in production the executors read/write
`s3a://bucket/prefix/data/txn=.../...` directly (the s3a config seam in
`io/s3.py`) and this class only owns the LOG and the object LISTING. In
this image the hadoop-aws jars are absent (env-gated, see
tests/test_s3a.py), so S3LogStore also carries the boto3 transfer shim
the repo already uses for the reference's object-store contract
(`io/s3boto.py`, ref build/unpack_to_raw.py:17-22): Spark writes a txn's
parquet files to a local stage dir, the shim uploads them, and reads
download on demand into a local cache keyed by the table-relative path —
correct because data files are IMMUTABLE (the manifest invariant), so a
cached copy can never be stale. The cache mirrors the table layout
(`data/txn=<id>/k=v/part-*.parquet`) so Spark's partition discovery
parses it identically to the direct-path case.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time
from abc import ABC, abstractmethod

from ..scratch import process_root


class LogStore(ABC):
    """The manifest layer's storage contract. `name` arguments are log-file
    basenames (`v{N}.json` / `v{N}.checkpoint.parquet`); `rel` arguments are
    table-relative data paths (`data/txn=<id>/.../part-*.parquet`)."""

    # ---- commit log ----

    @abstractmethod
    def list_log(self) -> list[str]:
        """Basenames of every log object (entries AND checkpoints)."""

    @abstractmethod
    def read_log(self, name: str) -> bytes:
        """Raises FileNotFoundError if absent (vacuumed / never written)."""

    @abstractmethod
    def put_log_if_absent(self, name: str, data: bytes) -> bool:
        """THE commit primitive: atomically create `name` with `data`;
        False (and no write) if it already exists."""

    @abstractmethod
    def put_log_atomic(self, name: str, data: bytes) -> None:
        """Atomic create-or-replace (checkpoints: derived, idempotent
        content — racers write identical bytes)."""

    @abstractmethod
    def delete_log(self, name: str) -> None:
        """Remove a log object (vacuum's log truncation)."""

    def delete_logs(self, names: list[str]) -> None:
        """Bulk log removal — default loops delete_log; S3 batches
        (vacuum truncating 10^4 entries is otherwise 10^4 DELETE
        round-trips, scripts/soak_manifest.py)."""
        for name in names:
            self.delete_log(name)

    # ---- data files ----

    @abstractmethod
    def txn_stage_dir(self, txn: str) -> str:
        """LOCAL directory for Spark to write commit `txn`'s parquet files
        into (must not exist yet; Spark creates it)."""

    @abstractmethod
    def finalize_txn(self, txn: str) -> list[tuple[str, str]]:
        """Make the staged files durable in the backend; return
        [(table-relative path, local path for footer reads)] for every
        parquet file the stage dir holds."""

    @abstractmethod
    def list_txn_dirs(self) -> list[str]:
        """`txn=<id>` dir names currently present in the data area."""

    @abstractmethod
    def txn_dir_age_seconds(self, name: str) -> float | None:
        """Seconds since the txn dir's NEWEST write (vacuum's in-flight
        guard); None if it vanished concurrently."""

    @abstractmethod
    def delete_txn_dir(self, name: str) -> None:
        """Remove one txn dir and everything under it."""

    def sweep_dead_txn_dirs(self, live: set, min_age_seconds: float) -> list[str]:
        """Vacuum's orphan sweep: delete every txn dir NOT in `live`
        whose newest write is at least `min_age_seconds` old (the
        commit-in-progress guard); return the removed dir names. This
        default composes the per-dir primitives; backends where each
        primitive is a network round-trip override it with a
        single-pass scan (S3: 3 LISTs per dead dir otherwise, PERF.md
        #46)."""
        removed = []
        for name in self.list_txn_dirs():
            if name not in live:
                age = self.txn_dir_age_seconds(name)
                if age is None:
                    continue  # concurrently removed
                if age < min_age_seconds:
                    continue  # possible commit-in-progress
                self.delete_txn_dir(name)
                removed.append(name)
        return removed

    @abstractmethod
    def list_txn_files(self, name: str) -> list[tuple[str, float]]:
        """(table-relative path, seconds since write) for every file in
        one txn dir — vacuum's DEEP sweep uses this to find zombie
        objects inside LIVE (committed) txn dirs: a speculative task
        whose PUTs land after the commit's pre-publish LIST leaves
        unreferenced keys the dir-granular sweep never reaps."""

    def list_txn_rels(self, name: str) -> list[str]:
        """Table-relative path of every file in one txn dir, without
        ages (scan planning's `_coalesce_dirs`). This default drops the
        ages of `list_txn_files`; a backend that pays per file for an
        age overrides it."""
        return [rel for rel, _age in self.list_txn_files(name)]

    @abstractmethod
    def delete_files(self, rels: list[str]) -> None:
        """Remove individual data files by table-relative path (deep
        vacuum's zombie reap)."""

    # ---- reads ----

    @abstractmethod
    def resolve_read(self, rels: list[str]) -> tuple[str, list[str]]:
        """(basePath, concrete paths) for Spark to read `rels`. Local:
        the table root itself; S3: the local cache after ensuring every
        requested file is present."""

    @abstractmethod
    def clone(self) -> "LogStore":
        """An INDEPENDENT handle on the same table state — what a second
        writer process would construct (tests use this to race commits)."""


class LocalLogStore(LogStore):
    """The local filesystem: hard-link put-if-absent, os.replace
    checkpoints, os.walk enumeration."""

    def __init__(self, root: str) -> None:
        self.root = root
        self.log_dir = os.path.join(root, "_manifest")
        self.data_dir = os.path.join(root, "data")

    def list_log(self) -> list[str]:
        if not os.path.isdir(self.log_dir):
            return []
        return sorted(os.listdir(self.log_dir))

    def read_log(self, name: str) -> bytes:
        with open(os.path.join(self.log_dir, name), "rb") as f:
            return f.read()

    def put_log_if_absent(self, name: str, data: bytes) -> bool:
        os.makedirs(self.log_dir, exist_ok=True)
        fd, tmp = tempfile.mkstemp(
            prefix=".commit-", suffix=".json", dir=self.log_dir
        )
        try:
            with os.fdopen(fd, "wb") as f:
                f.write(data)
            try:
                # hard link = atomic create-if-absent on POSIX/HDFS-likes
                os.link(tmp, os.path.join(self.log_dir, name))
                return True
            except FileExistsError:
                return False
        finally:
            os.unlink(tmp)

    def put_log_atomic(self, name: str, data: bytes) -> None:
        os.makedirs(self.log_dir, exist_ok=True)
        fd, tmp = tempfile.mkstemp(
            prefix=".ckpt-", suffix=".json", dir=self.log_dir
        )
        try:
            with os.fdopen(fd, "wb") as f:
                f.write(data)
            os.replace(tmp, os.path.join(self.log_dir, name))
        finally:
            # os.replace consumes tmp on success; on ANY failure (ENOSPC
            # write, failed replace) unlink it — vacuum never removes
            # non-v* names, so a leaked temp would live forever.
            if os.path.exists(tmp):
                os.unlink(tmp)

    def delete_log(self, name: str) -> None:
        os.unlink(os.path.join(self.log_dir, name))

    def txn_stage_dir(self, txn: str) -> str:
        return os.path.join(self.data_dir, f"txn={txn}")

    def finalize_txn(self, txn: str) -> list[tuple[str, str]]:
        out = []
        stage = self.txn_stage_dir(txn)
        for dirpath, _dirs, names in os.walk(stage):
            for name in names:
                if not name.endswith(".parquet"):
                    continue
                full = os.path.join(dirpath, name)
                out.append((os.path.relpath(full, self.root), full))
        return out

    def list_txn_dirs(self) -> list[str]:
        if not os.path.isdir(self.data_dir):
            return []
        return sorted(
            n for n in os.listdir(self.data_dir) if n.startswith("txn=")
        )

    def txn_dir_age_seconds(self, name: str) -> float | None:
        try:
            return time.time() - os.path.getmtime(
                os.path.join(self.data_dir, name)
            )
        except OSError:
            return None  # concurrently removed

    def delete_txn_dir(self, name: str) -> None:
        shutil.rmtree(os.path.join(self.data_dir, name))

    def list_txn_rels(self, name: str) -> list[str]:
        # one relpath per directory, not per file: 65k files in one txn
        # dir are one os.walk entry
        out: list[str] = []
        for dirpath, _dirs, names in os.walk(os.path.join(self.data_dir, name)):
            rel_dir = os.path.relpath(dirpath, self.root)
            out.extend(os.path.join(rel_dir, n) for n in names)
        return out

    def list_txn_files(self, name: str) -> list[tuple[str, float]]:
        out: list[tuple[str, float]] = []
        now = time.time()
        for rel in self.list_txn_rels(name):
            try:
                age = now - os.path.getmtime(os.path.join(self.root, rel))
            except OSError:
                continue  # concurrently removed
            out.append((rel, age))
        return out

    def delete_files(self, rels: list[str]) -> None:
        for rel in rels:
            full = os.path.join(self.root, rel)
            try:
                os.unlink(full)
            except OSError:
                continue
            # prune now-empty partition dirs up to (not including) the
            # txn dir itself — same hygiene as the commit-time sweep
            d = os.path.dirname(full)
            while (
                os.path.basename(d).count("=")
                and not os.path.basename(d).startswith("txn=")
            ):
                try:
                    os.rmdir(d)
                except OSError:
                    break
                d = os.path.dirname(d)

    def resolve_read(self, rels: list[str]) -> tuple[str, list[str]]:
        return self.root, [os.path.join(self.root, r) for r in rels]

    def clone(self) -> "LocalLogStore":
        return LocalLogStore(self.root)


class S3LogStore(LogStore):
    """The commit log on an S3-compatible object store, using the public
    conditional-write primitive (`If-None-Match: *` → 412 on conflict)
    for put-if-absent. See module docstring for the data-transport shim.

    `table_prefix` is the table's key prefix inside `bucket` (the
    equivalent of the local root). `cache_dir` is the local mirror for
    Spark reads/stage writes; pass the same dir to cooperating handles on
    one machine or let each default to its own temp dir — correctness
    does not depend on sharing (files are immutable), only warm-read
    speed does. A `cache_dir` passed in stays the caller's; a default one
    is a fresh dir under this process's `manifest-s3-*` root in the
    system temp dir, removed when the process exits
    (`scratch.process_root`).

    Vacuum-vs-cached-reader nuance (differs from the local backend's
    fail-loud contract): vacuum deletes the S3 objects and THIS handle's
    cache copies, but another handle's cache may still hold a vacuumed
    file — a reader pinned there keeps succeeding with the (correct,
    immutable) old bytes instead of failing, exactly POSIX
    unlink-while-open semantics. Fresh version resolution still fails
    loud (the log entry is gone)."""

    def __init__(
        self,
        bucket: str,
        table_prefix: str,
        *,
        client=None,
        endpoint: str | None = None,
        access_key: str = "test",
        secret_key: str = "test",
        region: str = "us-east-1",
        cache_dir: str | None = None,
    ) -> None:
        _injected = client is not None
        if client is None:
            import boto3

            client = boto3.client(
                "s3",
                endpoint_url=endpoint,
                aws_access_key_id=access_key,
                aws_secret_access_key=secret_key,
                region_name=region,
            )
        self.client = client
        self.bucket = bucket
        self.prefix = table_prefix.strip("/")
        self.cache_root = cache_dir or tempfile.mkdtemp(
            dir=process_root(None, "manifest-s3-")
        )
        self._injected_client = _injected
        self._ctor = dict(
            endpoint=endpoint,
            access_key=access_key,
            secret_key=secret_key,
            region=region,
        )

    # ---- key helpers ----

    def _log_key(self, name: str) -> str:
        return f"{self.prefix}/_manifest/{name}"

    def _rel_key(self, rel: str) -> str:
        return f"{self.prefix}/{rel}"

    def _list_keys(self, prefix: str) -> list[dict]:
        out, token = [], None
        while True:
            kw = {"Bucket": self.bucket, "Prefix": prefix}
            if token:
                kw["ContinuationToken"] = token
            resp = self.client.list_objects_v2(**kw)
            out += resp.get("Contents", [])
            if not resp.get("IsTruncated"):
                return out
            token = resp.get("NextContinuationToken")

    # ---- commit log ----

    def list_log(self) -> list[str]:
        pre = self._log_key("")
        return sorted(o["Key"][len(pre):] for o in self._list_keys(pre))

    def read_log(self, name: str) -> bytes:
        try:
            return self.client.get_object(
                Bucket=self.bucket, Key=self._log_key(name)
            )["Body"].read()
        except self.client.exceptions.NoSuchKey:
            raise FileNotFoundError(
                f"s3://{self.bucket}/{self._log_key(name)}"
            ) from None

    def put_log_if_absent(self, name: str, data: bytes) -> bool:
        from botocore.exceptions import ClientError

        try:
            self.client.put_object(
                Bucket=self.bucket,
                Key=self._log_key(name),
                Body=data,
                IfNoneMatch="*",
            )
            return True
        except ClientError as e:
            code = e.response.get("Error", {}).get("Code", "")
            # 412: the key exists (a writer already won this version).
            # 409 ConditionalRequestConflict: S3's response when TWO
            # conditional writers collide mid-flight — neither can know
            # it won, so re-list and resolve the same way.
            if code not in ("PreconditionFailed", "ConditionalRequestConflict"):
                raise
            # Self-conflict guard: boto3 transparently
            # retries PUTs on network errors. If the FIRST attempt
            # landed but its 200 response was lost, the retry gets 412
            # against our OWN just-created entry — reporting that as a
            # loss would make the commit loop republish the same files
            # at the next version (silent duplicate rows on append).
            # The entry bytes are unique per commit attempt (txn uuid
            # data paths, committed_at), so read-back == data proves
            # the existing object is ours and the put WON.
            try:
                existing = self.read_log(name)
            except FileNotFoundError:
                # key vanished between the 412 and the read-back (a
                # racing vacuum of a LOSING old version is impossible —
                # vacuum only truncates below checkpoints — so this is
                # effectively unreachable; report loss and let the
                # commit loop re-list: worst case a spurious conflict
                # retry, never a duplicate)
                return False
            return existing == data

    def put_log_atomic(self, name: str, data: bytes) -> None:
        # a plain S3 PUT is atomic: the new object version appears fully
        # or not at all, never partially
        self.client.put_object(
            Bucket=self.bucket, Key=self._log_key(name), Body=data
        )

    def delete_log(self, name: str) -> None:
        self.client.delete_object(Bucket=self.bucket, Key=self._log_key(name))

    def delete_logs(self, names: list[str]) -> None:
        self._delete_keys([self._log_key(n) for n in names])

    # ---- data files ----

    def txn_stage_dir(self, txn: str) -> str:
        return os.path.join(self.cache_root, "data", f"txn={txn}")

    def finalize_txn(self, txn: str) -> list[tuple[str, str]]:
        out = []
        stage = self.txn_stage_dir(txn)
        for dirpath, _dirs, names in os.walk(stage):
            for name in names:
                if not name.endswith(".parquet"):
                    continue
                full = os.path.join(dirpath, name)
                rel = os.path.relpath(full, self.cache_root)
                self.client.upload_file(full, self.bucket, self._rel_key(rel))
                out.append((rel, full))
        return out

    def list_txn_dirs(self) -> list[str]:
        pre = f"{self.prefix}/data/"
        dirs = set()
        for o in self._list_keys(pre):
            first = o["Key"][len(pre):].split("/", 1)[0]
            if first.startswith("txn="):
                dirs.add(first)
        return sorted(dirs)

    def txn_dir_age_seconds(self, name: str) -> float | None:
        objs = self._list_keys(f"{self.prefix}/data/{name}/")
        if not objs:
            return None
        newest = max(o["LastModified"] for o in objs)
        return time.time() - newest.timestamp()

    def delete_txn_dir(self, name: str) -> None:
        keys = [o["Key"] for o in self._list_keys(f"{self.prefix}/data/{name}/")]
        self._delete_keys(keys)
        shutil.rmtree(
            os.path.join(self.cache_root, "data", name), ignore_errors=True
        )

    def _delete_keys(self, keys: list[str]) -> None:
        for i in range(0, len(keys), 1000):  # DeleteObjects caps at 1000
            self.client.delete_objects(
                Bucket=self.bucket,
                Delete={"Objects": [{"Key": k} for k in keys[i : i + 1000]]},
            )

    def sweep_dead_txn_dirs(self, live: set, min_age_seconds: float) -> list[str]:
        """Single-pass vacuum sweep: ONE paginated LIST
        over the data area yields every dir's key set and newest
        LastModified, then dead keys delete in cross-dir batches of
        1000 — O(objects/1000) round-trips instead of 3 LISTs + 1
        delete PER dead dir (at 10^5 orphan dirs the per-dir form is
        hours of round-trips)."""
        pre = f"{self.prefix}/data/"
        dirs: dict[str, list] = {}
        newest: dict[str, object] = {}
        for o in self._list_keys(pre):
            first = o["Key"][len(pre):].split("/", 1)[0]
            if not first.startswith("txn="):
                continue
            dirs.setdefault(first, []).append(o["Key"])
            lm = o["LastModified"]
            if first not in newest or lm > newest[first]:
                newest[first] = lm
        now = time.time()
        removed, doomed_keys = [], []
        for name in sorted(dirs):
            if name in live:
                continue
            if now - newest[name].timestamp() < min_age_seconds:
                continue  # possible commit-in-progress
            removed.append(name)
            doomed_keys += dirs[name]
        self._delete_keys(doomed_keys)
        for name in removed:
            shutil.rmtree(
                os.path.join(self.cache_root, "data", name), ignore_errors=True
            )
        return removed

    def list_txn_files(self, name: str) -> list[tuple[str, float]]:
        pre = f"{self.prefix}/data/{name}/"
        now = time.time()
        return [
            (
                o["Key"][len(self.prefix) + 1:],
                now - o["LastModified"].timestamp(),
            )
            for o in self._list_keys(pre)
        ]

    def delete_files(self, rels: list[str]) -> None:
        self._delete_keys([self._rel_key(r) for r in rels])
        for rel in rels:
            try:
                os.unlink(os.path.join(self.cache_root, rel))
            except OSError:
                pass

    # ---- reads ----

    def resolve_read(self, rels: list[str]) -> tuple[str, list[str]]:
        paths = []
        for rel in rels:
            local = os.path.join(self.cache_root, rel)
            if not os.path.exists(local):
                # atomic materialize (tmp + rename): a concurrent reader
                # of the same file never sees a half-downloaded parquet
                os.makedirs(os.path.dirname(local), exist_ok=True)
                fd, tmp = tempfile.mkstemp(
                    prefix=".dl-", dir=os.path.dirname(local)
                )
                os.close(fd)
                try:
                    self.client.download_file(
                        self.bucket, self._rel_key(rel), tmp
                    )
                    os.replace(tmp, local)
                finally:
                    if os.path.exists(tmp):
                        os.unlink(tmp)
            paths.append(local)
        return self.cache_root, paths

    def clone(self) -> "S3LogStore":
        # Independent handle: own cache dir, shares NOTHING local.
        # A caller-injected client is REUSED (rebuilding from the ctor
        # args would silently point a clone of an injected-client store
        # at default AWS); clients are thread-safe in boto3.
        if self._injected_client:
            return S3LogStore(self.bucket, self.prefix, client=self.client)
        return S3LogStore(
            self.bucket,
            self.prefix,
            **self._ctor,
        )
