"""Storage-agnostic small-file I/O for connector side artifacts.

The streaming sink's commit hook (`datasource.SfIngestStreamWriter`)
persists its reject side table as small files. On a real cluster that
path lives on object storage (s3a/abfs/gs), which ``os.*`` cannot
address — and the Python DataSource ``commit()`` hook has no
SparkSession to write through. ``pyarrow.fs`` (shipped with PySpark)
is the abstraction it uses: URIs resolve via ``FileSystem.from_uri``;
scheme-less relative paths fall back to the local filesystem. Every
write goes through :func:`write_small_file_atomic`.
"""

from __future__ import annotations

import os


# Hadoop-ecosystem scheme aliases pyarrow does not recognize: Spark
# users address S3 as s3a:// (and legacy s3n://); pyarrow's S3
# filesystem answers only to s3://. Aliased, not dropped — a
# silently-wrong LocalFileSystem fallback here would lose the
# reject side table on a real cluster.
_SCHEME_ALIASES = {"s3a": "s3", "s3n": "s3"}

# Caller-registered scheme resolvers: schemes ``FileSystem.from_uri``
# cannot construct — injected test doubles (``_MockFileSystem``,
# ``SubTreeFileSystem``), whose ``from_uri`` equivalents would return a
# FRESH instance per call and so cannot carry state between resolves.
# A resolver takes the path part after ``scheme://`` and returns
# ``(FileSystem, fs-native path)``.
_SCHEME_RESOLVERS: dict = {}


def register_scheme(scheme: str, resolver) -> None:
    """Route ``scheme://…`` paths through *resolver* instead of
    ``FileSystem.from_uri`` — the seam that lets a test substitute a
    fake filesystem. The resolver receives the path WITHOUT the
    ``scheme://`` prefix and returns a ``(pyarrow FileSystem,
    fs-native path)`` pair.

    The registry is PROCESS-LOCAL: PySpark runs the DataSource commit
    hooks in a freshly spawned Python worker whose registry is empty,
    so a registered scheme serves only code called in this process."""
    _SCHEME_RESOLVERS[_canonical_scheme(scheme)] = resolver


def unregister_scheme(scheme: str) -> None:
    _SCHEME_RESOLVERS.pop(_canonical_scheme(scheme), None)


def _canonical_scheme(scheme: str) -> str:
    """The registry is keyed by the CANONICAL scheme — registering the
    aliased spelling ('s3a') must route the same lookups as 's3', or
    the injected filesystem would be silently bypassed for exactly the
    spelling the user's cluster writes."""
    return _SCHEME_ALIASES.get(scheme.lower(), scheme.lower())


def filesystem_for(path: str):
    """Resolve *path* to a ``(pyarrow.fs.FileSystem, fs-native path)``
    pair — ``file://``, ``s3://`` (also ``s3a://``/``s3n://``, aliased),
    ``gs://``, ``hdfs://``, a caller-registered scheme
    (:func:`register_scheme`) or a bare local path.

    Fallback policy: ONLY a scheme-less path (no ``://``, which
    ``from_uri`` rejects as "empty scheme") falls back to the local
    filesystem. A path WITH a scheme that pyarrow cannot resolve —
    a typo, or a filesystem this build lacks — raises, because writing
    a cluster artifact to a driver-local ``./s3a:/...`` directory is
    silent data loss, not a fallback.

    On LocalFileSystem/HDFS a tmp+``move`` is an atomic rename; on
    object stores ``move`` is copy+delete — not atomic, but fixed
    per-artifact names still converge on replay (overwrite semantics),
    which is the contract callers rely on.
    """
    from pyarrow import fs as pafs

    if "://" in path:
        # aliases FIRST, then resolver lookup: a resolver registered
        # for 's3' must also catch the Hadoop-conventional 's3a://'
        # spelling this module canonicalizes — otherwise the aliased
        # path would silently bypass the injected filesystem and
        # construct a real S3FileSystem
        path = _normalize_uri(path)
        scheme, rest = path.split("://", 1)
        resolver = _SCHEME_RESOLVERS.get(scheme.lower())
        if resolver is not None:
            return resolver(rest)
        # unrecognized scheme raises inside from_uri
        return pafs.FileSystem.from_uri(path)
    return pafs.LocalFileSystem(), os.path.abspath(path)


def _normalize_uri(path: str) -> str:
    """Rewrite Hadoop scheme aliases to the scheme pyarrow speaks."""
    scheme, rest = path.split("://", 1)
    return f"{_SCHEME_ALIASES.get(scheme.lower(), scheme)}://{rest}"


def write_small_file_atomic(path: str, payload: bytes) -> None:
    """Write a small artifact via tmp + move (atomic on local/HDFS,
    overwrite-converged on object stores); parent dirs are created.

    The tmp sibling is ``.``-PREFIXED, so a directory reader that
    hides '_'/'.'-prefixed files (``spark.read.json``) never reads a
    half-written or crashed attempt's tmp — a bare ``*.tmp`` suffix is
    NOT hidden. It also carries a per-attempt uniquifier (r14 ADVICE):
    two concurrent attempts of the same artifact — a zombie commit
    racing a retry — must never interleave writes on one tmp path and
    move a truncated file into place. A crashed attempt can orphan its
    tmp; that is harmless clutter (consumers read the artifact by exact
    name), preferred over the corruption the fixed name risked."""
    import uuid

    fs, p = filesystem_for(path)
    parent, sep, name = p.rpartition("/")
    if parent:
        fs.create_dir(parent, recursive=True)
    tmp = f"{parent}{sep}.{name}.tmp.{os.getpid():x}-{uuid.uuid4().hex[:8]}"
    with fs.open_output_stream(tmp) as f:
        f.write(payload)
    fs.move(tmp, p)
