"""Scheme-aware filesystem I/O for index metadata.

The index DATA tables (docs/postings/termstats/positions parquet) are read and
written by Spark itself, which already speaks every Hadoop-supported scheme
(file://, hdfs://, s3a://, abfs://, gs://, ...).  What was posix-only in
round 1 was the SMALL metadata surface: ``_manifest/manifest.jsonl``,
``stats.json``, the ``deletes`` tombstone probe, segment-validity probes and
the apply-deletes table swap.  This module routes those through the JVM
Hadoop FileSystem (via py4j) whenever the index root carries a URI scheme,
and keeps the fast posix path for plain local paths.

Reference parity: the reference handles mixed s3:// / azure:// / file://
index roots throughout split merge and search
(native/src/quickwit_split/merge_impl.rs:70-294,
split/SplitCacheManager.java); this is the Spark-native equivalent — one
FileSystem abstraction, no separate cloud clients.

Notes on object-store semantics:
- append does not exist on object stores; ``append_text`` does a
  read-modify-write for scheme'd paths (manifest files are small and written
  only by the driver, under the builder's manifest lock).
- ``rename`` maps to Hadoop ``FileSystem.rename`` which is copy+delete on
  s3a — acceptable for the small metadata tables; the big parquet writes are
  already direct-to-destination.
"""

from __future__ import annotations

import json
import os
import re
import shutil
from typing import List

_SCHEME_RE = re.compile(r"^[a-zA-Z][a-zA-Z0-9+.\-]*://")

# footer key under which Spark stores a table's Spark schema
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def has_scheme(path: str) -> bool:
    return bool(_SCHEME_RE.match(path))


def join(base: str, *parts: str) -> str:
    """Path join that is safe for both posix paths and URIs."""
    out = base.rstrip("/")
    for p in parts:
        out += "/" + p.strip("/")
    return out


def relpath(path: str, base: str) -> str:
    if has_scheme(path) or has_scheme(base):
        b = base.rstrip("/") + "/"
        if path.startswith(b):
            return path[len(b):]
        raise ValueError(f"{path} is not under {base}")
    return os.path.relpath(path, base)


# -- Hadoop FileSystem plumbing (py4j) --------------------------------------
def _fs(spark, path: str):
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    uri = jvm.java.net.URI.create(path)
    return jvm.org.apache.hadoop.fs.FileSystem.get(uri, hconf), jvm


def _hpath(jvm, path: str):
    return jvm.org.apache.hadoop.fs.Path(path)


# -- public ops ---------------------------------------------------------------
def exists(spark, path: str) -> bool:
    if not has_scheme(path):
        return os.path.exists(path)
    fs, jvm = _fs(spark, path)
    return bool(fs.exists(_hpath(jvm, path)))


def isdir_nonempty(spark, path: str) -> bool:
    if not has_scheme(path):
        return os.path.isdir(path) and bool(os.listdir(path))
    fs, jvm = _fs(spark, path)
    p = _hpath(jvm, path)
    if not fs.exists(p) or not fs.getFileStatus(p).isDirectory():
        return False
    return len(fs.listStatus(p)) > 0


def listdir(spark, path: str) -> List[str]:
    if not has_scheme(path):
        return os.listdir(path)
    fs, jvm = _fs(spark, path)
    statuses = fs.listStatus(_hpath(jvm, path))
    return [st.getPath().getName() for st in statuses]


def makedirs(spark, path: str) -> None:
    if not has_scheme(path):
        os.makedirs(path, exist_ok=True)
        return
    fs, jvm = _fs(spark, path)
    fs.mkdirs(_hpath(jvm, path))


def read_text(spark, path: str) -> str:
    if not has_scheme(path):
        with open(path) as fh:
            return fh.read()
    fs, jvm = _fs(spark, path)
    stream = fs.open(_hpath(jvm, path))
    try:
        return jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def write_text(spark, path: str, text: str) -> None:
    if not has_scheme(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            fh.write(text)
        return
    fs, jvm = _fs(spark, path)
    out = fs.create(_hpath(jvm, path), True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def create_text_exclusive(spark, path: str, text: str) -> bool:
    """Create `path` with `text` ONLY if it does not exist; returns False
    when it already does (never overwrites).  Posix: O_CREAT|O_EXCL (atomic).
    Scheme'd: Hadoop ``FileSystem.create(path, overwrite=false)`` — raises on
    an existing file, which we map to False.  This is the primitive the
    versioned manifest uses for lost-update-free concurrent appends."""
    if not has_scheme(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            return False
        with os.fdopen(fd, "w") as fh:
            fh.write(text)
        return True
    fs, jvm = _fs(spark, path)
    p = _hpath(jvm, path)
    try:
        out = fs.create(p, False)
    except Exception:
        if fs.exists(p):
            return False
        raise
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    return True


def append_text(spark, path: str, text: str) -> None:
    """Posix: true append.  Scheme'd: read-modify-write (object stores have
    no append; manifest files are small and driver-written)."""
    if not has_scheme(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "a") as fh:
            fh.write(text)
        return
    prev = read_text(spark, path) if exists(spark, path) else ""
    write_text(spark, path, prev + text)


def delete(spark, path: str) -> None:
    """Recursive delete, no-op when missing."""
    if not has_scheme(path):
        shutil.rmtree(path, ignore_errors=True)
        if os.path.isfile(path):
            os.remove(path)
        return
    fs, jvm = _fs(spark, path)
    p = _hpath(jvm, path)
    if fs.exists(p):
        fs.delete(p, True)


def rename(spark, src: str, dst: str) -> None:
    if not has_scheme(src) and not has_scheme(dst):
        os.rename(src, dst)
        return
    fs, jvm = _fs(spark, src)
    fs.rename(_hpath(jvm, src), _hpath(jvm, dst))


def footer_schema(tables):
    """The one Spark schema that Spark wrote into the Parquet footers of
    ``tables``, a list of (POSIX table dir, its pyarrow dataset), with the
    top-level fields nullable as spark.read.parquet makes them: what that
    read infers, without its inference job.  None (Spark infers) when a dir
    is partitioned or empty, a footer has no Spark schema, or the dirs
    disagree."""
    from pyspark.sql import types as T
    found = set()
    for root, ds in tables:
        meta = ds.schema.metadata or {}
        if SPARK_SCHEMA_KEY not in meta or not ds.files or \
                any(os.path.dirname(f) != root for f in ds.files):
            return None
        fields = json.loads(meta[SPARK_SCHEMA_KEY])["fields"]
        for f in fields:
            f["nullable"] = True
        found.add(json.dumps(fields, sort_keys=True))
    if len(found) != 1:
        return None
    return T.StructType.fromJson({"type": "struct",
                                  "fields": json.loads(found.pop())})
