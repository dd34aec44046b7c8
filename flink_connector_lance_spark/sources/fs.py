"""The filesystem seam: the one module that knows where a dataset lives.

``get_fs(path, storage_options)`` returns a filesystem with the fsspec
interface for ANY dataset path, and every metadata and maintenance
operation (manifest list/read/commit, catalog lifecycle, vacuum,
describe, deletion vectors, the native stats sidecar) is one function
over it:

- ``s3://`` / ``s3a://`` / ``s3n://`` paths get fsspec's ``s3``
  filesystem with the reference-convention ``aws_*`` storage options
  mapped onto s3fs kwargs (ref table/LanceCatalogFactory.java:148-176,
  applied at table/LanceCatalog.java:743-773). fsspec/s3fs are
  optional: without them every remote call raises
  ``RemoteUnavailableError``, a clear refusal;
- every other path gets ``LocalFS``, a small stateless filesystem over
  ``os``/``shutil``.

The operations both expose, all taking FULL paths/urls: ``open`` (mode
``'xb'`` is an exclusive create), ``exists``, ``isdir``, ``ls``,
``info`` (with ``size`` and ``mtime``; s3fs reports ``LastModified``),
``rm(recursive=)``, ``makedirs`` and ``put``. Writing modes create
missing parent directories (object stores have none to create).

Two module-level primitives carry the durability contract:

- ``create_exclusive(fs, url, payload)`` — atomic create-if-absent with
  a single-winner guarantee: of N concurrent creators of one key exactly
  one succeeds and the rest get ``FileExistsError``. Locally it is an
  ``O_CREAT|O_EXCL`` create; on s3 an S3 conditional PUT
  (``If-None-Match: *``). Every manifest commit lands through it;
- ``write_atomic(fs, url, payload)`` — a small object that is either
  absent or complete, never torn: tmp+rename locally, a single PUT
  remotely (a PUT is atomic per key).

``ls_names(fs, path)`` lists base names (``[]`` for a missing dir) and
``dataset_root(path)`` is the canonical root string of a dataset.

One location fork is left outside this module: the emulated data-plane
writer. Locally a JVM ``df.write.parquet`` stages files that the driver
promotes by rename; on s3 each task PUTs its fragment straight from the
executor. The JVM cannot write to s3 without hadoop-aws, and for tiny
local commits the staged write measured faster (about 0.21 s vs
0.31 s per append), so both stay. ``is_remote`` is exposed for that
dispatch, for vacuum's young-key grace (only object stores need it) and
for the catalog's refusal to rename on s3 (no atomic multi-key rename).
"""

from __future__ import annotations

import os
import shutil

_REMOTE_SCHEMES = ("s3://", "s3a://", "s3n://")


def is_remote(path: str) -> bool:
    return str(path).lower().startswith(_REMOTE_SCHEMES)


def dataset_root(path: str) -> str:
    """Canonical root of a dataset: an absolute path locally (executor
    outputs such as ``input_file_name()`` are absolute, and a relative
    root would resolve against the JVM's cwd), the url without a
    trailing slash remotely."""
    return str(path).rstrip("/") if is_remote(path) else os.path.abspath(path)


class RemoteUnavailableError(RuntimeError):
    def __init__(self, what: str = "this operation"):
        super().__init__(
            f"{what} on an S3 warehouse requires 'fsspec' + 's3fs' (pip "
            "install s3fs) for the emulated backend, or the native lance "
            "backend; neither is available"
        )


class LocalFS:
    """The local half of the seam: the fsspec calls the engine uses,
    over ``os``/``shutil``. Stateless, so one instance serves every
    path (and pickles into executor closures)."""

    def open(self, path, mode="rb"):
        if "w" in mode or "x" in mode or "a" in mode:
            os.makedirs(os.path.dirname(str(path)) or ".", exist_ok=True)
        return open(path, mode)  # 'xb' is O_CREAT|O_EXCL

    def exists(self, path) -> bool:
        return os.path.exists(path)

    def isdir(self, path) -> bool:
        return os.path.isdir(path)

    def ls(self, path, detail=False):
        base = str(path).rstrip("/")
        return [f"{base}/{n}" for n in sorted(os.listdir(path))]

    def info(self, path) -> dict:
        st = os.stat(path)  # FileNotFoundError when absent, like fsspec
        return {"name": str(path), "size": st.st_size, "mtime": st.st_mtime,
                "type": "directory" if os.path.isdir(path) else "file"}

    def rm(self, path, recursive: bool = False) -> None:
        if os.path.isdir(path):
            if not recursive:
                raise IsADirectoryError(str(path))
            shutil.rmtree(path)
        else:
            os.remove(path)

    def makedirs(self, path, exist_ok=False) -> None:
        os.makedirs(path, exist_ok=exist_ok)

    def put(self, lpath, rpath) -> None:
        os.makedirs(os.path.dirname(str(rpath)) or ".", exist_ok=True)
        shutil.copyfile(lpath, rpath)

    def write_atomic(self, path, payload: bytes) -> None:
        tmp = f"{path}.tmp"
        with self.open(tmp, "wb") as fh:
            fh.write(payload)
        os.replace(tmp, path)


_LOCAL_FS = LocalFS()


def _fsspec_kwargs(storage_options: dict | None) -> dict:
    """Map the reference-convention ``aws_*`` storage options
    (options.S3Options.to_storage_options) onto s3fs constructor kwargs.
    Unknown keys pass through untouched (test filesystems use them)."""
    o = dict(storage_options or {})
    kw: dict = {}
    client: dict = {}
    if "aws_access_key_id" in o:
        kw["key"] = o.pop("aws_access_key_id")
    if "aws_secret_access_key" in o:
        kw["secret"] = o.pop("aws_secret_access_key")
    if "aws_region" in o:
        client["region_name"] = o.pop("aws_region")
    if "aws_endpoint" in o:
        client["endpoint_url"] = o.pop("aws_endpoint")
    o.pop("virtual_hosted_style_request", None)  # s3fs default addressing
    if o.pop("allow_http", "false") == "true" and "endpoint_url" in client:
        client["use_ssl"] = False
    if client:
        kw["client_kwargs"] = client
    kw.update(o)
    return kw


def get_fs(path: str, storage_options: dict | None = None):
    """The filesystem serving ``path``: ``LocalFS`` for local paths,
    fsspec's s3 filesystem for s3 urls (or a clear error when fsspec/s3fs
    is absent). All fs calls take FULL urls (s3fs strips the protocol
    itself)."""
    if not is_remote(path):
        return _LOCAL_FS
    try:
        import fsspec
    except ImportError as e:
        raise RemoteUnavailableError(f"reading {path}") from e
    try:
        # fsspec.filesystem("s3") itself imports s3fs — wrap that too, or
        # an fsspec-without-s3fs install leaks a raw ImportError past the
        # promised clear refusal
        return fsspec.filesystem("s3", **_fsspec_kwargs(storage_options))
    except ImportError as e:
        raise RemoteUnavailableError(f"reading {path}") from e


def create_exclusive(fs, url: str, payload: bytes) -> None:
    """Atomic create-if-absent of one object — the primitive the
    single-winner commit protocol needs.

    Delegates to the filesystem's exclusive-write mode (``open(path,
    'xb')``): ``O_CREAT|O_EXCL`` locally; s3fs implements it with an S3
    conditional PUT (``If-None-Match: *`` — S3's 2024 conditional-write
    API), so exactly one of N concurrent writers can create a given
    manifest key and the losers get ``FileExistsError`` (raised at
    close, when the PUT's precondition is evaluated). ``FileExistsError``
    propagates to the caller's retry loop; a backend without
    exclusive-create support gets a clear refusal instead of a
    lost-update window."""
    try:
        f = fs.open(url, "xb")
    except FileExistsError:
        raise
    except (NotImplementedError, ValueError) as e:
        raise NotImplementedError(
            f"the filesystem backing {url} has no exclusive-create "
            "('xb' / If-None-Match) support — conditional commits are "
            "unavailable; upgrade s3fs or write through the native "
            "lance backend"
        ) from e
    with f:
        f.write(payload)


def write_atomic(fs, url: str, payload: bytes) -> None:
    """Write one small object so readers see it absent or complete:
    tmp+rename on filesystems that offer it, else one PUT (atomic per
    key on object stores)."""
    atomic = getattr(fs, "write_atomic", None)
    if atomic is not None:
        atomic(url, payload)
        return
    with fs.open(url, "wb") as fh:
        fh.write(payload)


def ls_names(fs, path: str) -> list[str]:
    """Base names of a directory's entries, ``[]`` when it is missing
    (s3fs.ls returns bucket-relative or protocol-full paths depending on
    version)."""
    try:
        entries = fs.ls(path, detail=False)
    except (FileNotFoundError, NotADirectoryError):
        return []
    return [str(e).rstrip("/").rsplit("/", 1)[-1] for e in entries]
