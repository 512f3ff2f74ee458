"""Filesystem shim for engine metadata IO (snapshots, markers, metrics)
— local paths use the stdlib, URI paths (hdfs://, s3a://, ...) go
through Hadoop's FileSystem API via the active SparkSession's JVM.

Why: data files always go through Spark readers/writers (already
cluster-portable), but icelite's METADATA layer needs small-file
read/write/list/rename primitives. Round 1 used os.* directly, which
made `--table s3a://bucket/...` silently impossible; this shim is the
documented fix. Atomicity notes:

  * local + HDFS: rename is atomic — the snapshot-pointer swap keeps its
    all-or-nothing guarantee.
  * S3A: rename is copy+delete (not atomic). Real Iceberg solves this
    with a catalog swap; deployments on raw S3 should point the metadata
    dir at HDFS/a consistent store, or front it with a catalog. The shim
    still works — the non-atomic window is the pointer file only.

Everything takes plain path strings; paths are joined with '/' (URI-safe
and identical to os.path.join on POSIX for the local case).
"""

from __future__ import annotations

import json
import os
import re
import uuid
from typing import Any

from pyspark.sql import SparkSession

_SCHEME_RE = re.compile(r"^[a-zA-Z][a-zA-Z0-9+.\-]*:")


def is_remote(path: str) -> bool:
    """Any URI-scheme path (file:, hdfs://, s3a://, ...) routes through
    Hadoop's FileSystem — `file:` included, so the JVM code path is fully
    testable without object storage."""
    return bool(_SCHEME_RE.match(path))


def _session() -> SparkSession:
    # getActiveSession is THREAD-local; metadata IO must also work from
    # helper threads (maintenance, concurrent stats), so fall back to the
    # process-wide instantiated session
    spark = SparkSession.getActiveSession() or SparkSession._instantiatedSession
    if spark is None:
        raise RuntimeError("remote paths need an active SparkSession")
    return spark


def _hadoop_fs(path: str):
    spark = _session()
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return jvm, fs, jpath


def join(*parts: str) -> str:
    return "/".join(p.rstrip("/") for p in parts if p)


def exists(path: str) -> bool:
    if not is_remote(path):
        return os.path.exists(path)
    _, fs, p = _hadoop_fs(path)
    return fs.exists(p)


def makedirs(path: str) -> None:
    if not is_remote(path):
        os.makedirs(path, exist_ok=True)
        return
    _, fs, p = _hadoop_fs(path)
    fs.mkdirs(p)


def listdir(path: str) -> list[str]:
    """Child entry NAMES (not full paths), like os.listdir."""
    if not is_remote(path):
        return os.listdir(path)
    _, fs, p = _hadoop_fs(path)
    return [st.getPath().getName() for st in fs.listStatus(p)]


def getsize(path: str) -> int:
    if not is_remote(path):
        return os.path.getsize(path)
    _, fs, p = _hadoop_fs(path)
    return fs.getFileStatus(p).getLen()


def remove(path: str) -> None:
    if not is_remote(path):
        os.remove(path)
        return
    _, fs, p = _hadoop_fs(path)
    fs.delete(p, False)


def rmtree(path: str) -> None:
    if not is_remote(path):
        import shutil

        shutil.rmtree(path, ignore_errors=True)
        return
    _, fs, p = _hadoop_fs(path)
    if fs.exists(p):
        fs.delete(p, True)


def read_text(path: str) -> str:
    if not is_remote(path):
        with open(path) as f:
            return f.read()
    jvm, fs, p = _hadoop_fs(path)
    stream = fs.open(p)
    try:
        return jvm.org.apache.commons.io.IOUtils.toString(
            stream, jvm.java.nio.charset.StandardCharsets.UTF_8
        )
    finally:
        stream.close()


def _write_text(path: str, text: str) -> None:
    if not is_remote(path):
        with open(path, "w") as f:
            f.write(text)
            f.flush()
            os.fsync(f.fileno())
        return
    jvm, fs, p = _hadoop_fs(path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
        out.hflush()
    finally:
        out.close()


def rename(src: str, dst: str) -> None:
    """Atomic replace. Local: ``os.replace``. Remote: ``FileSystem.rename``
    when dst is absent; when dst EXISTS, ``FileContext.rename`` with
    ``Options.Rename.OVERWRITE`` — the atomic clobbering rename on HDFS and
    local FS, so a reader of a swapped pointer (table VERSION, checkpoint
    marker, view pointer) never observes a missing file. The old
    delete-then-rename left a window where a crash deleted the only copy."""
    if not is_remote(src):
        os.replace(src, dst)
        return
    jvm, fs, s = _hadoop_fs(src)
    _, _, d = _hadoop_fs(dst)
    if not fs.exists(d):
        if not fs.rename(s, d):
            raise IOError(f"rename {src!r} -> {dst!r} failed")
        return
    spark = _session()
    try:
        fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            d.toUri(), spark._jsc.hadoopConfiguration()
        )
        gw = spark.sparkContext._gateway
        opts = gw.new_array(jvm.org.apache.hadoop.fs.Options.Rename, 1)
        opts[0] = jvm.org.apache.hadoop.fs.Options.Rename.OVERWRITE
        fc.rename(s, d, opts)
    except Exception:
        # Stores without an AbstractFileSystem binding (raw S3A configs)
        # can't do an atomic overwrite-rename at all; fall back to
        # delete+rename and say so — the caller chose the store.
        import warnings

        warnings.warn(
            f"no atomic overwrite-rename for {dst!r}; falling back to "
            "delete+rename (non-atomic window — front metadata with a "
            "catalog or HDFS for crash-safe pointer swaps)",
            stacklevel=2,
        )
        fs.delete(d, False)
        if not fs.rename(s, d):
            raise IOError(f"rename {src!r} -> {dst!r} failed")


def write_json_atomic(path: str, obj: Any) -> None:
    """tmp + rename (atomic on local/HDFS; see module note for S3)."""
    parent = path.rsplit("/", 1)[0] if "/" in path else "."
    tmp = join(parent, f".tmp.{uuid.uuid4().hex[:8]}")
    _write_text(tmp, json.dumps(obj))
    rename(tmp, path)


def read_json(path: str) -> Any:
    return json.loads(read_text(path))


# ---------------- replace-safe pointers (generation files) ----------------
#
# write_json_atomic is fine for write-once / idempotent files (snapshots,
# markers, metrics), but a POINTER that is repeatedly REPLACED (table
# meta/VERSION, a view pointer) must never pass through a
# deleted-with-no-replacement state: Hadoop's overwrite-rename is only
# atomic on HDFS proper (the local/AbstractFileSystem default — and S3A —
# is delete-then-rename under the hood). So on remote paths a pointer is
# published as a NEW numbered generation file `<name>.<g>` (plain rename
# to a fresh name: atomic everywhere, no delete of the only copy) and
# readers resolve current = max g; older generations and the legacy bare
# file are cleaned up best-effort only after the new one exists. Local
# paths keep the single-file os.replace (POSIX-atomic already).

_RAISE = object()


def _generations(parent: str, base: str) -> list[int]:
    prefix = base + "."
    try:
        names = listdir(parent)
    except Exception:
        return []
    return sorted(
        int(n[len(prefix):])
        for n in names
        if n.startswith(prefix) and n[len(prefix):].isdigit()
    )


def publish_json(path: str, obj: Any) -> None:
    """Replace-safe pointer publish (see block comment above)."""
    if not is_remote(path):
        write_json_atomic(path, obj)
        return
    parent, base = path.rsplit("/", 1)
    gens = _generations(parent, base)
    tmp = join(parent, f".tmp.{uuid.uuid4().hex[:8]}")
    _write_text(tmp, json.dumps(obj))
    rename(tmp, join(parent, f"{base}.{(gens[-1] + 1) if gens else 1}"))
    for g in gens:  # cleanup AFTER the new generation is live
        try:
            remove(join(parent, f"{base}.{g}"))
        except Exception:
            pass
    try:
        if exists(path):  # legacy bare-file layout
            remove(path)
    except Exception:
        pass


def load_json(path: str, default: Any = _RAISE) -> Any:
    """Read a pointer written by ``publish_json``. Remote: newest
    generation wins; a generation deleted between list and read means a
    newer one exists — retry. Falls back to the bare file (legacy layout /
    local writes).

    ``default`` means "the pointer was never published", NOT "the pointer
    is unreadable": when a generation (or bare file) is OBSERVED but every
    read attempt fails — corrupt file, persistent IO error — the last read
    error is re-raised instead of returning ``default``. Returning the
    default there would silently reset live state (an outbox pointer
    restarting at table birth re-emits every published range); absence
    must be a clean observation, never an error swallowed (ADVICE r3)."""
    if not is_remote(path):
        if os.path.exists(path):
            return json.loads(read_text(path))
        if default is not _RAISE:
            return default
        raise FileNotFoundError(path)
    parent, base = path.rsplit("/", 1)
    last_err: Exception | None = None
    for _ in range(8):
        gens = _generations(parent, base)
        if gens:
            try:
                return json.loads(read_text(join(parent, f"{base}.{gens[-1]}")))
            except Exception as e:  # swapped under us OR corrupt — retry
                last_err = e
                continue
        try:
            if exists(path):
                return json.loads(read_text(path))
        except Exception as e:
            last_err = e
            continue
        break  # cleanly observed: nothing published at all
    else:
        # 8 straight failures while something was live the whole time:
        # that's corruption or persistent IO trouble, not absence.
        raise last_err
    if default is not _RAISE:
        return default
    raise FileNotFoundError(path)


def pointer_exists(path: str) -> bool:
    if not is_remote(path):
        return os.path.exists(path)
    parent, base = path.rsplit("/", 1)
    return bool(_generations(parent, base)) or exists(path)
