"""Stage — storage transport (the S3 / Snowflake-internal-stage role).

Parity target: reference locopy/s3.py:44-391 (upload/download/delete,
URL helpers) and locopy/snowflake.py:213-266 (PUT/GET with globs).
A stage here is a local directory, given as a path or a ``file:`` URI;
``Stage`` moves files with local file calls, so any other scheme
(``s3a:``, ``hdfs:``) is rejected with ``StageInitializationError``.
Everything keeps the reference's method surface so callers port
unchanged.
"""

from __future__ import annotations

import glob as _glob
import os
import shutil
from typing import Tuple
from urllib.parse import urlsplit
from urllib.request import url2pathname

from locopy_spark.errors import (
    StageDeletionError,
    StageDownloadError,
    StageInitializationError,
    StageUploadError,
)


def parse_url(url: str) -> Tuple[str, str]:
    """Split a storage URL into (bucket/root, key path)
    (reference: locopy/s3.py:373)."""
    for scheme in ("s3://", "s3a://", "file://"):
        if url.startswith(scheme):
            rest = url[len(scheme):]
            parts = rest.split("/", 1)
            return parts[0], parts[1] if len(parts) > 1 else ""
    parts = url.split("/", 1)
    return parts[0], parts[1] if len(parts) > 1 else ""


def generate_path(bucket: str, key: str, scheme: str = "s3a") -> str:
    """Build a full storage URL (reference: locopy/s3.py:138)."""
    return f"{scheme}://{bucket}/{key}" if key else f"{scheme}://{bucket}"


def generate_unload_path(bucket: str, folder: str | None, scheme: str = "s3a") -> str:
    """Build an unload destination (reference: locopy/s3.py:156).

    Reference semantics exactly: a folder ENDING in "/" is kept as a
    folder, anything else is a key PREFIX and passes through verbatim
    (reference tests/test_s3.py:138 asserts "TEST"/"PREFIX" →
    "s3://TEST/PREFIX" with no added slash)."""
    if folder:
        return f"{scheme}://{bucket}/{folder}"
    return f"{scheme}://{bucket}"


_CHUNK = 1 << 20  # 1 MiB transfer chunks (drives progress callbacks)


def _copy_file(src: str, dst: str, callback=None) -> None:
    """Chunked file copy invoking ``callback(bytes_amount)`` per chunk —
    the boto3 S3Transfer callback protocol
    (:class:`locopy_spark.utility.ProgressPercentage` fits)."""
    if callback is None:
        shutil.copyfile(src, dst)
        return
    with open(src, "rb") as fsrc, open(dst, "wb") as fdst:
        while True:
            chunk = fsrc.read(_CHUNK)
            if not chunk:
                break
            fdst.write(chunk)
            callback(len(chunk))


class Stage:
    """A directory-rooted stage with PUT/GET/LIST/DELETE.

    ``root`` is a local path or a ``file:`` URI, which resolves to its
    local path (``file:///data/stage`` → ``/data/stage``) — the same
    API shape a cloud-FS-backed implementation exposes on a cluster.
    """

    def __init__(self, root: str):
        url = urlsplit(root)
        if url.scheme == "file" and url.netloc in ("", "localhost"):
            root = url2pathname(url.path)
        elif url.scheme:
            raise StageInitializationError(
                f"Stage root {root!r} is not local (scheme {url.scheme!r}): "
                "a stage root is a local path or a file: URI"
            )
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _dest(self, key: str) -> str:
        return os.path.join(self.root, key)

    def upload(self, local: str, key: str | None = None, callback=None) -> str:
        """PUT one file (reference: locopy/s3.py:183 upload_to_s3,
        locopy/snowflake.py:213 upload_to_internal). ``callback`` is
        invoked with byte deltas during the transfer (reference passes
        ``ProgressPercentage`` to boto3 the same way, s3.py:207)."""
        try:
            key = key or os.path.basename(local)
            dest = self._dest(key)
            os.makedirs(os.path.dirname(dest) or ".", exist_ok=True)
            _copy_file(local, dest, callback)
            return dest
        except Exception as e:
            raise StageUploadError(f"Error uploading {local}.") from e

    def upload_list(self, locals_: list[str], folder: str = "") -> list[str]:
        """PUT many (reference: locopy/s3.py:228)."""
        return [
            self.upload(f, os.path.join(folder, os.path.basename(f)))
            for f in locals_
        ]

    def download(
        self,
        key_or_glob: str,
        local_dir: str,
        callback=None,
        parallel: int = 1,
    ) -> list[str]:
        """GET by key or glob (reference: locopy/s3.py:271,
        locopy/snowflake.py:247 download_from_internal). ``callback``
        receives byte deltas per transferred chunk.  ``parallel`` is
        the transfer thread count (the GET ``PARALLEL=n`` clause,
        reference snowflake.py:262) — ordering of the returned list is
        match order regardless of completion order."""
        try:
            os.makedirs(local_dir, exist_ok=True)
            matches = sorted(_glob.glob(self._dest(key_or_glob)))
            if not matches and os.path.exists(self._dest(key_or_glob)):
                matches = [self._dest(key_or_glob)]

            def get_one(m: str) -> str:
                dest = os.path.join(local_dir, os.path.basename(m))
                _copy_file(m, dest, callback)
                return dest

            if parallel > 1 and len(matches) > 1:
                from concurrent.futures import ThreadPoolExecutor

                with ThreadPoolExecutor(
                    max_workers=min(int(parallel), len(matches))
                ) as ex:
                    return list(ex.map(get_one, matches))
            return [get_one(m) for m in matches]
        except Exception as e:
            raise StageDownloadError(f"Error downloading {key_or_glob}.") from e

    def list(self, pattern: str = "*") -> list[str]:
        return sorted(
            os.path.relpath(p, self.root)
            for p in _glob.glob(self._dest(pattern))
        )

    def delete(self, key: str) -> None:
        """DELETE (reference: locopy/s3.py:333)."""
        try:
            os.remove(self._dest(key))
        except Exception as e:
            raise StageDeletionError(f"Error deleting {key}.") from e

    def delete_list(self, keys: list[str]) -> None:
        for k in keys:
            self.delete(k)

    # -- reference-named aliases (locopy/s3.py:183-373) ------------------
    # The reference S3 client addresses objects as (bucket, key); the
    # Stage root plays the storage base, so bucket maps to a prefix
    # directory under it. These let reference call-sites port verbatim.

    def upload_to_s3(self, local: str, bucket: str, key: str) -> str:
        return self.upload(local, os.path.join(bucket, key))

    def upload_list_to_s3(
        self, local_list: list[str], bucket: str, folder: str | None = None
    ) -> list[str]:
        prefix = os.path.join(bucket, folder) if folder else bucket
        return self.upload_list(local_list, prefix)

    def download_from_s3(self, bucket: str, key: str, local: str) -> list[str]:
        return self.download(os.path.join(bucket, key), local)

    def download_list_from_s3(
        self, keys: list[str], local: str = "."
    ) -> list[str]:
        out: list[str] = []
        for k in keys:
            out.extend(self.download(k, local))
        return out

    def delete_from_s3(self, bucket: str, key: str) -> None:
        self.delete(os.path.join(bucket, key))

    def delete_list_from_s3(self, keys: list[str]) -> None:
        for k in keys:
            self.delete(k)

    @staticmethod
    def parse_s3_url(url: str) -> Tuple[str, str]:
        return parse_url(url)
