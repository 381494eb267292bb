"""Per-uid hardened cache directory for derived sidecar files.

Sidecars (literal-stream verdicts, bytecode checkpoint indexes, the
shipped package zip) are derived data that is cheap to regenerate but
load-bearing for correctness when trusted: a planted sidecar in a
shared world-writable tempdir could force a mis-aligned parallel
decode path. Defense:

* files live under ``$XDG_CACHE_HOME/prs-cache`` (or
  ``$TMPDIR/prs-cache-<uid>``), created 0700;
* both the directory and each file are verified on read to be owned
  by the current uid and not group/other-writable, opened with
  O_NOFOLLOW so a symlink swap is rejected;
* callers additionally embed a content fingerprint of the source file
  inside the sidecar and re-verify it, closing the stale-verdict
  window (rewrite within one mtime_ns tick at the same size).
"""

from __future__ import annotations

import hashlib
import os
import stat
import tempfile


def _uid() -> int:
    getuid = getattr(os, "getuid", None)
    return getuid() if getuid is not None else 0


def cache_dir() -> str | None:
    """The per-uid 0700 cache directory, or None if one cannot be
    established safely (caller then skips caching entirely)."""
    xdg = os.environ.get("XDG_CACHE_HOME")
    if xdg:
        d = os.path.join(xdg, "prs-cache")
    else:
        d = os.path.join(tempfile.gettempdir(), f"prs-cache-{_uid()}")
    try:
        os.makedirs(d, mode=0o700, exist_ok=True)
        st = os.lstat(d)
        if (
            not stat.S_ISDIR(st.st_mode)
            or st.st_uid != _uid()
            or (st.st_mode & 0o077)
        ):
            return None
        return d
    except OSError:
        return None


def cache_path(name: str) -> str | None:
    d = cache_dir()
    return os.path.join(d, name) if d is not None else None


def read_trusted(path: str) -> bytes | None:
    """Read a cache file only if it is a regular file owned by the
    current uid and not group/other-writable; None otherwise."""
    flags = os.O_RDONLY | getattr(os, "O_NOFOLLOW", 0)
    try:
        fd = os.open(path, flags)
    except OSError:
        return None
    try:
        st = os.fstat(fd)
        if (
            not stat.S_ISREG(st.st_mode)
            or st.st_uid != _uid()
            or (st.st_mode & 0o022)
        ):
            return None
        with os.fdopen(fd, "rb") as fh:
            fd = -1
            return fh.read()
    except OSError:
        return None
    finally:
        if fd >= 0:
            os.close(fd)


def write_atomic(path: str, data: bytes) -> None:
    """Best-effort 0600 atomic publish; failures are silent (the
    sidecar is an optimization, never required)."""
    tmp = f"{path}.{os.getpid()}.tmp"
    try:
        fd = os.open(tmp, os.O_WRONLY | os.O_CREAT | os.O_EXCL, 0o600)
        try:
            with os.fdopen(fd, "wb") as fh:
                fh.write(data)
        except OSError:
            os.close(fd)
            raise
        os.replace(tmp, path)
    except OSError:
        try:
            os.unlink(tmp)
        except OSError:
            pass


def content_fingerprint(path: str) -> str:
    """Cheap source-file identity beyond (size, mtime): sha1 of the
    first and last 4 KiB plus the byte size. Detects a rewrite that
    lands on the same size within one mtime_ns tick. Reads through
    the filesystem seam, so a remote path (three range requests) gets
    the same identity a local one does."""
    from polars_readstat_spark.sources.fs import fs_open

    h = hashlib.sha1()
    with fs_open(path) as fh:
        head = fh.read(4096)
        fh.seek(0, os.SEEK_END)
        size = fh.tell()
        fh.seek(max(0, size - 4096))
        tail = fh.read(4096)
    h.update(head)
    h.update(tail)
    h.update(str(size).encode())
    return h.hexdigest()
