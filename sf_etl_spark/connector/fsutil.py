"""Storage-agnostic small-file I/O for connector side artifacts.

The connector's commit hooks persist tiny files: the streaming sink's
reject side table (`datasource.SfIngestStreamWriter`) and the
writer's ``job_ids_path`` publish, which the ``foreachBatch`` reject
capture (`ingest`) reads back. On a real cluster those paths live on
object storage (s3a/abfs/gs), which ``os.*`` cannot address — and the
Python DataSource ``commit()`` hook has no SparkSession to write
through. ``pyarrow.fs`` (shipped with PySpark) is the abstraction all
of them use: URIs resolve via ``FileSystem.from_uri``; scheme-less
relative paths fall back to the local filesystem. Every write goes
through :func:`write_small_file_atomic`.
"""

from __future__ import annotations

import os


# Hadoop-ecosystem scheme aliases pyarrow does not recognize: Spark
# users address S3 as s3a:// (and legacy s3n://); pyarrow's S3
# filesystem answers only to s3://. Aliased, not dropped — a
# silently-wrong LocalFileSystem fallback here would lose the
# reject/job-id artifacts on a real cluster.
_SCHEME_ALIASES = {"s3a": "s3", "s3n": "s3"}

# Caller-registered scheme resolvers (r13 verdict task 6): schemes
# ``FileSystem.from_uri`` cannot construct — fsspec-wrapped stores via
# ``pafs.PyFileSystem(FSSpecHandler(...))``, or injected test doubles
# (``_MockFileSystem``/``SubTreeFileSystem``, whose ``from_uri``
# equivalents return a FRESH instance per call and so cannot carry
# state between resolves). A resolver takes the path part after
# ``scheme://`` and returns ``(FileSystem, fs-native path)``.
_SCHEME_RESOLVERS: dict = {}


def register_scheme(scheme: str, resolver) -> None:
    """Route ``scheme://…`` paths through *resolver* instead of
    ``FileSystem.from_uri``. The resolver receives the path WITHOUT
    the ``scheme://`` prefix and must return a ``(pyarrow FileSystem,
    fs-native path)`` pair — typically a shared filesystem instance,
    so state persists across `filesystem_for` calls.

    The registry is PROCESS-LOCAL. A direct ``register_scheme`` call
    therefore serves only the driver-process consumers —
    :func:`foreach_batch_ingest_with_rejects`' job-id read — and NOT
    the Python DataSource commit hooks (the streaming sink's reject
    side table, the writer's ``job_ids_path`` publish): PySpark runs
    ``DataSourceWriter.commit()`` in a freshly spawned Python worker
    (``pyspark/sql/worker/commit_data_source_write.py``) that
    re-imports this module with an empty registry. To reach those
    hooks, carry the resolver as a SPEC in the writer's
    ``fs_resolver`` option (see :func:`apply_resolver_spec`) — the
    commit hook re-registers it in the worker. A registered-scheme
    path reaching a commit hook with no spec fails LOUDLY with the
    unknown-scheme raise — never a silent local fallback."""
    _SCHEME_RESOLVERS[_canonical_scheme(scheme)] = resolver


def unregister_scheme(scheme: str) -> None:
    _SCHEME_RESOLVERS.pop(_canonical_scheme(scheme), None)


def is_registered_scheme(scheme: str) -> bool:
    """True when *scheme* (any alias spelling) currently routes
    through a caller-registered resolver in THIS process."""
    return _canonical_scheme(scheme) in _SCHEME_RESOLVERS


def apply_resolver_spec(spec: str | None) -> None:
    """Idempotently register scheme resolvers from a SERIALIZABLE spec
    string ``'scheme=module:attr[,scheme=module:attr…]'`` — the form a
    writer option (``fs_resolver``) can carry into the freshly spawned
    DataSource commit worker, whose process-local registry starts
    empty (r14 verdict task 3). Each ``module:attr`` names an
    importable callable with the :func:`register_scheme` resolver
    contract (path-after-scheme → (FileSystem, fs-native path)); an
    fsspec-backed store is a 3-line module::

        # myproj/abfs_resolver.py
        def resolve(rest):
            import fsspec
            from pyarrow.fs import FSSpecHandler, PyFileSystem
            fs = PyFileSystem(FSSpecHandler(fsspec.filesystem("abfs")))
            return fs, rest

    carried as ``fs_resolver='abfss=myproj.abfs_resolver:resolve'``.
    Malformed entries and unimportable targets raise loudly — a typo
    must never degrade to the unknown-scheme raise minutes later
    inside the commit barrier."""
    for scheme, resolver in parse_resolver_spec(spec):
        register_scheme(scheme, resolver)


def parse_resolver_spec(spec: str | None) -> list:
    """Parse (and import) an ``fs_resolver`` spec WITHOUT touching the
    registry — the driver-side plan-time validation path. Returns
    ``[(scheme, resolver), …]``; raises on malformed entries or
    unimportable targets."""
    if not spec:
        return []
    import importlib

    out = []
    for entry in spec.split(","):
        entry = entry.strip()
        if not entry:
            continue
        scheme, sep, target = entry.partition("=")
        mod, msep, attr = target.partition(":")
        if not sep or not msep or not scheme or not mod or not attr:
            raise ValueError(
                f"malformed fs_resolver entry {entry!r}: expected "
                f"'scheme=module:attr'"
            )
        out.append((scheme, getattr(importlib.import_module(mod), attr)))
    return out


def local_passthrough_resolver(rest: str):
    """Resolver mapping ``<scheme>:///abs/path`` to the local
    filesystem at ``/abs/path`` — a pure scheme-aliasing resolver with
    no state, used by the commit-worker tests to prove the
    ``fs_resolver`` spec plumbing reaches a process whose registry
    started empty (and handy as the minimal template for real ones)."""
    from pyarrow import fs as pafs

    return pafs.LocalFileSystem(), "/" + rest.lstrip("/")


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


def read_small_file(path: str) -> bytes | None:
    """Read a small artifact in full; None when it does not exist."""
    from pyarrow.fs import FileType

    fs, p = filesystem_for(path)
    if fs.get_file_info(p).type == FileType.NotFound:
        return None
    with fs.open_input_stream(p) as f:
        return f.read()


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
