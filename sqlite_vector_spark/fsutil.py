"""Scheme-agnostic small-object filesystem helpers (Hadoop FS API).

The maintenance verbs (delete/compact/vacuum/takedown, batch and
streaming) walk store layouts with a handful of metadata operations:
list a prefix, stat/exists, rename, delete, read/write a small JSON
sidecar. Every one of them goes through this module, which resolves a
path's Hadoop FileSystem from its scheme and, for a scheme-less path,
from ``fs.defaultFS`` — the same resolution Spark itself uses for the
data files. A plain path on a deployment whose default filesystem is
an object store is therefore walked where Spark wrote it, not on the
driver's local disk (an ``os.listdir`` there returns nothing, and a
takedown receipt built on it reads clean while the ids are still
stored).

Cost note for object stores: ``rename`` on a local/HDFS filesystem
is an atomic metadata move; S3-class stores implement it as
copy-then-delete (bounded, non-atomic). The verbs that rename run
from the single-maintenance-writer seat with readers drained (the
documented lifecycle contract), so atomicity is not load-bearing —
but rename COST is proportional to bytes moved there, which is why
the batch stores' preferred object-store mode is the rename-free
manifest scheme (versioned.py) and the streaming verbs rename only
bounded per-epoch dirs.

Measured through this layer (the ``mock:`` scheme forces it) at 1M
rows, every lifecycle verb landed within session noise of the former
``os`` path (SCALE.md, "Streaming lifecycle through the FS layer").
The one exception kept is ``walk_files``'s local arm: there the
Hadoop listing's per-file py4j round-trips cost 97 s on a
3x4096-dir store that ``os.walk`` lists in under 0.1 s.
"""

from __future__ import annotations

import re

from py4j.java_gateway import JavaClass

_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*:")


def has_scheme(path: str) -> bool:
    """True when the path carries a URI scheme (``s3a://…``,
    ``mock:/…``, ``file:/…``)."""
    return bool(_SCHEME_RE.match(path))


def is_remote(path: str, spark=None) -> bool:
    """True when the path resolves through a NON-local Hadoop
    filesystem. Scheme-carrying paths decide by scheme (anything but
    ``file:``). A SCHEME-LESS path resolves through the deployment's
    ``fs.defaultFS`` — on a cluster whose default filesystem is an
    object store, a plain path IS remote, and deciding by the path
    string alone would let the rename-swap verbs bypass their
    remote_ok refusal (ADVICE r13 #3). Pass ``spark`` (else the
    active/default session is consulted when one exists; with no
    session at all, the plain-path local default stands — matching
    Hadoop's own file:/// default)."""
    if has_scheme(path):
        return not path.startswith("file:")
    sess = spark if spark is not None else _active_spark_or_none()
    if sess is None:
        return False
    default_fs = sess.sparkContext._jsc.hadoopConfiguration().get(
        "fs.defaultFS", "file:///"
    )
    return not str(default_fs).startswith("file:")


def norm_root(path: str) -> str:
    """Trailing-slash-stripped store root; plain local paths are
    additionally absolutized (``os.path.abspath`` would CORRUPT a URI
    by prefixing the cwd, so scheme-carrying paths pass through)."""
    import os

    p = path.rstrip("/")
    return p if has_scheme(p) else os.path.abspath(p)


def _active_spark_or_none():
    """Active-or-default session, or None — never raises, never
    creates one. getActiveSession() is THREAD-LOCAL and returns None
    on threads Spark spawns itself (a Structured Streaming
    foreachBatch handler runs on the query thread — exactly where the
    streaming state verbs land), so fall through to the process-wide
    default via the PUBLIC SparkSession.active() (3.5+; the r13 code
    read the private _instantiatedSession attribute, which a PySpark
    upgrade could move — ADVICE r13 #5)."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        return spark
    try:
        return SparkSession.active()
    except Exception:
        return None


def active_spark():
    """The current SparkSession, which resolves every path's Hadoop
    filesystem. Raises when there is none: guessing a filesystem
    without one could walk the wrong disk and report an empty store."""
    spark = _active_spark_or_none()
    if spark is None:
        raise RuntimeError(
            "store and state paths resolve through the Hadoop FileSystem, "
            "which needs an active SparkSession — start one (or pass "
            "spark=) before running maintenance verbs"
        )
    return spark


def fs_for(spark, path: str):
    """(hadoop Path, FileSystem) for a path, resolved by scheme."""
    # a JavaClass handle is built in Python; jvm.org.apache... lookups
    # cost a py4j round trip per package name
    jp = JavaClass("org.apache.hadoop.fs.Path", spark._jvm._gateway_client)(path)
    return jp, jp.getFileSystem(spark._jsc.hadoopConfiguration())


def exists(spark, path: str) -> bool:
    jp, fs = fs_for(spark, path)
    return bool(fs.exists(jp))


def is_dir(spark, path: str) -> bool:
    jp, fs = fs_for(spark, path)
    return bool(fs.exists(jp)) and bool(fs.getFileStatus(jp).isDirectory())


def list_names(spark, path: str, pattern: str | None = None) -> list[str]:
    """Child names under a directory; [] when it does not exist.
    ``pattern`` is a glob on the child NAME (``_sv_*.json``), applied
    in the JVM; unlike ``globStatus``, metacharacters in ``path``
    itself stay literal. The names come back joined into one string,
    so a listing costs the same few py4j round-trips however many
    children the directory has (``getPath().getName()`` per child
    would cost two each)."""
    jp, fs = fs_for(spark, path)
    if not fs.exists(jp):
        return []
    gw = spark._jvm._gateway_client
    sts = fs.listStatus(jp) if pattern is None else fs.listStatus(
        jp, JavaClass("org.apache.hadoop.fs.GlobFilter", gw)(pattern))
    paths = JavaClass("org.apache.hadoop.fs.FileUtil", gw).stat2Paths(sts)
    text = JavaClass("scala.collection.mutable.ArraySeq", gw).make(paths).mkString("\n")
    return [p.rsplit("/", 1)[1] for p in text.split("\n")] if text else []


def mkdirs(spark, path: str) -> None:
    jp, fs = fs_for(spark, path)
    fs.mkdirs(jp)


def delete(spark, path: str, recursive: bool = False) -> None:
    jp, fs = fs_for(spark, path)
    fs.delete(jp, recursive)


def rename(spark, src: str, dst: str) -> None:
    """Checked rename. Hadoop filesystems split failures across two
    conventions — some raise (LocalFileSystem on a missing source),
    others return False (most object-store adapters on missing
    source / existing destination) — and a swap that silently no-ops
    corrupts the verb's accounting, so both normalize to OSError."""
    from py4j.protocol import Py4JJavaError

    jsrc, fs = fs_for(spark, src)
    jdst = JavaClass("org.apache.hadoop.fs.Path", spark._jvm._gateway_client)(dst)
    try:
        ok = fs.rename(jsrc, jdst)
    except Py4JJavaError as e:
        raise OSError(f"filesystem rename failed: {src!r} -> {dst!r}: "
                      f"{e.java_exception.getMessage()}") from e
    if not ok:
        raise OSError(f"filesystem rename failed: {src!r} -> {dst!r}")


def walk_files(spark, path: str) -> list[tuple[str, int]]:
    """Recursive (absolute_path, size) listing of every FILE under a
    directory; [] when absent. A scheme-less path that resolves to the
    local filesystem (``is_remote`` says so — the rule the flat-swap
    refusal uses) walks with ``os.walk``: the Hadoop listing costs ~3
    py4j round-trips PER FILE from Python (~2 ms each — measured 97 s
    for a 3x4096-dir store where os.walk takes <0.1 s, the real cost
    behind the r13 probe's 94 s 'vacuum' that VERDICT r13 #3
    attributed to per-file deletes). Every other path lists through
    its Hadoop filesystem: there the LIST RPCs are the unavoidable
    dominant cost and the py4j tax rides along on the driver."""
    import os

    if not has_scheme(path) and not is_remote(path, spark):
        out: list[tuple[str, int]] = []
        for dirpath, _dirnames, filenames in os.walk(path):
            for fn in filenames:
                if fn.startswith("."):
                    # parity with the Hadoop iterator: LocalFileSystem
                    # (checksummed) writes and HIDES .crc sidecars —
                    # os.walk must not surface what listFiles never
                    # showed the callers
                    continue
                fp = os.path.join(dirpath, fn)
                try:
                    out.append((fp, os.path.getsize(fp)))
                except OSError:
                    pass  # raced with a concurrent delete
        return out
    jp, fs = fs_for(spark, path)
    if not fs.exists(jp):
        return []
    # manual listStatus BFS, not fs.listFiles(recursive=True):
    # RawLocalFileSystem's recursive iterator round-trips through
    # java.io.File(uri) and throws 'URI scheme is not "file"' on any
    # other scheme — including the test-only mock: one
    out = []
    stack = [jp]
    while stack:
        cur = stack.pop()
        for st in fs.listStatus(cur):
            if st.isDirectory():
                stack.append(st.getPath())
            else:
                out.append((st.getPath().toUri().getPath(), int(st.getLen())))
    return out


def du_bytes(spark, path: str) -> int:
    """Recursive byte total of the files under a path; 0 when absent.
    The one bytes-freed accounting of every vacuum verb, summed over
    walk_files, so checksum sidecars count on no scheme."""
    return sum(size for _, size in walk_files(spark, path))


def _object_fs(fs):
    """The filesystem small objects are read and written with: ``fs``
    itself, or under ``file:`` the raw one beneath its checksum layer,
    so a sidecar gets no hidden ``.crc`` and still reads after it is
    edited or restored outside Hadoop. Listings keep the checksummed
    one, which hides the ``.crc`` files Spark's own writes leave."""
    return fs.getRawFileSystem() if fs.getScheme() == "file" else fs


def put_text(spark, path: str, text: str) -> None:
    """PUT one small object (overwrite) — the commit primitive for
    manifests and sidecars."""
    jp, fs = fs_for(spark, path)
    out = _object_fs(fs).create(jp, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def put_text_atomic(spark, path: str, text: str) -> None:
    """Crash-safe OVERWRITE of one small object that already has
    readers: write ``<path>.tmp`` fully, then swap it in with a
    rename (atomic on HDFS-class filesystems; a bounded copy on
    S3-class adapters). A direct overwriting ``create()`` at the
    final name is truncate-then-write — a crash in between leaves a
    truncated object that bricks every later verb reading it (ADVICE
    r13 #4). Rename refuses an existing destination on most schemes, so
    an existing object is deleted first: the vulnerable window
    shrinks from the whole write to the gap between two metadata
    ops, and a crash there leaves the intact ``.tmp`` beside the
    store instead of silent corruption. Brand-NEW names (manifest
    versions) don't need this — they are never half-read because no
    pointer references them until after the write returns."""
    tmp = f"{path}.tmp"
    put_text(spark, tmp, text)
    if exists(spark, path):
        delete(spark, path)
    rename(spark, tmp, path)


def get_text(spark, path: str) -> str:
    gw = spark._jvm._gateway_client
    jp, fs = fs_for(spark, path)
    stream = _object_fs(fs).open(jp)
    baos = JavaClass("java.io.ByteArrayOutputStream", gw)()
    JavaClass("org.apache.hadoop.io.IOUtils", gw).copyBytes(stream, baos, 65536, True)
    return bytes(baos.toByteArray()).decode("utf-8")
