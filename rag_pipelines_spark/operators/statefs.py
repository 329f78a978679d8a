"""Filesystem backends for the manifest/lease/epoch state machinery.

``operators/state.py`` encodes the crash-safety CONTRACT (manifest
pointer commits, epoch markers, writer lease); this module encodes WHERE
those few small files live. Two backends behind one small interface:

* ``LocalBackend`` — plain paths (no URI scheme). The original ``os.*``
  fast path: ``os.replace`` for the atomic manifest flip, ``O_EXCL``
  for lease acquisition, real ``fsync`` on files and parent dirs. This
  is the path the crash matrix proved byte-for-byte; it is unchanged.

* ``HadoopBackend`` — any path with a URI scheme (``file://``,
  ``hdfs://``, ``s3a://``, ``gs://``, ``abfs://``...), routed through
  the Hadoop FileSystem API of the active SparkSession's JVM, i.e. the
  exact connector stack the cluster already uses for its data. No new
  dependency, and whatever credentials/endpoint configuration Spark has
  applies to state too.

Atomicity per store — stated, not assumed (the contract's one
load-bearing operation is publishing the MANIFEST pointer):

* ``file://`` / ``hdfs://`` / ``viewfs://``: temp file + rename. The
  plain ``FileSystem.rename`` refuses an existing destination, so the
  flip uses ``FileContext.rename(OVERWRITE)`` — a single atomic
  metadata operation on HDFS (and POSIX rename locally).
* object stores (``s3a://``, ``gs://``, ``abfs://``, anything else): a
  direct single-key overwrite PUT. S3/GCS/ABFS are strongly consistent
  and an object PUT is all-or-nothing — readers see the old or the new
  manifest, never a torn one. A rename here would be the WRONG choice:
  S3A "rename" is copy+delete, a visible two-step.

Lease caveat on object stores: ``create(overwrite=false)`` is a
true atomic create-if-absent on HDFS and the local FS, but S3A
implements the existence check client-side (HADOOP-16490 area), so two
racing creators can both succeed within a narrow window. Where the
connector exposes conditional writes (Hadoop 3.4's
``fs.option.create.conditional.overwrite`` createFile option —
HADOOP-19256; S3A maps it to an ``If-None-Match: *`` PUT, so the
object store itself rejects the second creator with a 412 at commit),
``create_excl`` uses that tier and the lease is atomic end-to-end.
Otherwise it falls back to the client-side check and the lease is
advisory-grade — correct against the crashed-holder and
serialized-cron scenarios it exists for, not against adversarial
same-millisecond double-starts — and logs one loud warning per scheme
so the downgrade is visible in operator logs. The two-racing-creators
window for both tiers is pinned by a fake object-store drill in
tests/test_statefs.py. The manifest/epoch machinery does NOT depend on
the lease for crash safety — only for refusing concurrent writers.

Durability: the local backend fsyncs files and parent directories; the
Hadoop backend calls ``hsync()`` where the stream supports it (HDFS
pipelines; object-store streams make data durable at ``close()`` by
uploading the object).
"""

from __future__ import annotations

import os
import uuid
from contextlib import contextmanager


def is_uri(path: str) -> bool:
    return "://" in path


def backend_for(path: str, spark=None):
    """Resolve the backend for a state path. Local paths never touch the
    JVM; URI paths require a SparkSession (its Hadoop conf holds the
    credentials and connector config for the scheme): ``spark`` when
    given, else the thread's active session. Pass ``spark`` from code
    that may run on a worker thread (operators/concurrency.run_all),
    where no session is active."""
    if is_uri(path):
        return HadoopBackend.instance(spark)
    return LocalBackend.instance()


class LocalBackend:
    """os.*-based primitives — semantics identical to the pre-round-6
    inline code in state.py (the crash matrix pins them)."""

    _inst = None

    @classmethod
    def instance(cls) -> "LocalBackend":
        if cls._inst is None:
            cls._inst = cls()
        return cls._inst

    # --- probes -----------------------------------------------------------
    def isdir(self, p: str) -> bool:
        return os.path.isdir(p)

    def isfile(self, p: str) -> bool:
        return os.path.isfile(p)

    def listdir(self, p: str) -> list[str]:
        return os.listdir(p)

    def mtime(self, p: str) -> float:
        return os.stat(p).st_mtime

    def has_parquet_recursive(self, p: str) -> bool:
        for _root, _dirs, files in os.walk(p):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    # --- mutation ---------------------------------------------------------
    def makedirs(self, p: str) -> None:
        os.makedirs(p, exist_ok=True)

    def read_text(self, p: str) -> str:
        with open(p) as f:
            return f.read()

    def read_text_with_mtime(self, p: str) -> tuple[str, float]:
        """Content and mtime off the SAME open fd — one inode, so a
        staleness verdict and its takeover claim refer to one
        observation, not two reads racing a release/re-acquire."""
        with open(p) as f:
            return f.read(), os.fstat(f.fileno()).st_mtime

    def write_text(self, p: str, text: str, *, sync_dir: bool = False) -> None:
        with open(p, "w") as f:
            f.write(text)
            f.flush()
            os.fsync(f.fileno())
        if sync_dir:
            self._sync_dir(os.path.dirname(p))

    def publish_text(self, dir_: str, name: str, text: str) -> None:
        """Atomic pointer publish: temp sibling, fsync, rename, dir fsync.
        fsync BEFORE the rename: with delayed allocation the rename can
        become durable before the data blocks, leaving an empty pointer
        after power loss — exactly the "state looks empty" failure this
        scheme exists to prevent."""
        tmp = os.path.join(dir_, f".{name}.tmp-{uuid.uuid4().hex[:8]}")
        with open(tmp, "w") as f:
            f.write(text)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, os.path.join(dir_, name))
        self._sync_dir(dir_)

    def create_excl(self, p: str, text: str) -> None:
        """Raises FileExistsError if p exists (atomic O_EXCL)."""
        fd = os.open(p, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        with os.fdopen(fd, "w") as f:
            f.write(text)
            f.flush()
            os.fsync(f.fileno())

    def unlink(self, p: str, *, missing_ok: bool = False) -> None:
        try:
            os.unlink(p)
        except FileNotFoundError:
            if not missing_ok:
                raise

    def rename(self, src: str, dst: str) -> None:
        """Raises FileNotFoundError if src is missing; overwrites dst
        (POSIX rename) — callers that must not clobber use
        restore_if_absent."""
        os.rename(src, dst)

    def restore_if_absent(self, src: str, dst: str) -> None:
        """Move src's content to dst unless dst exists, then drop src.
        Local: hardlink (atomic, never clobbers) + unlink."""
        try:
            os.link(src, dst)
        except FileExistsError:
            pass
        os.unlink(src)

    def rmtree(self, p: str) -> None:
        import shutil

        if os.path.isdir(p):
            shutil.rmtree(p)
        else:
            os.unlink(p)

    @contextmanager
    def lock_dir(self, dir_: str):
        """Serialize lease ACQUISITION/RELEASE sections across local
        processes with a blocking flock on a sidecar lock file. Why the
        rename-claim protocol alone is not enough locally: a taker that
        steals a freshly re-acquired lease restores it, but between the
        steal and the restore the lease path is empty and a third taker
        can acquire — two holders (caught by the thread-stress drill).
        The flock closes that window outright; the kernel releases it on
        process death, so a crashed holder cannot wedge acquisition
        (unlike the lease itself, which needs the TTL takeover). Held
        only for the microseconds of acquisition, never across a merge."""
        import fcntl

        os.makedirs(dir_, exist_ok=True)
        fd = os.open(os.path.join(dir_, ".lease.lock"), os.O_CREAT | os.O_RDWR)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            yield
        finally:
            fcntl.flock(fd, fcntl.LOCK_UN)
            os.close(fd)

    def _sync_dir(self, dir_: str) -> None:
        dir_fd = os.open(dir_, os.O_RDONLY)
        try:
            os.fsync(dir_fd)
        finally:
            os.close(dir_fd)


# Schemes where a temp-file + metadata rename is atomic; everything else
# is treated as an object store whose atomic primitive is the single-key
# overwrite PUT.
_RENAME_ATOMIC_SCHEMES = {"file", "hdfs", "viewfs", "webhdfs", "ofs", "o3fs"}

# createFile() builder option for Hadoop 3.4+ conditional create
# (Options.CreateFileOptionKeys.FS_OPTION_CREATE_CONDITIONAL_OVERWRITE,
# HADOOP-19256). Probing the same string through hasPathCapability is the
# FileSystem-spec convention for "does this store honor the option" —
# S3A against real S3 answers true and turns the create into an
# If-None-Match: * PUT; stores without it answer false.
_CONDITIONAL_CREATE_OPT = "fs.option.create.conditional.overwrite"

# schemes already warned about running the advisory-grade lease tier —
# one loud line per scheme per process, not one per acquisition
_ADVISORY_WARNED: set[str] = set()


class HadoopBackend:
    """Hadoop FileSystem API primitives via the active session's JVM."""

    _inst = None

    @classmethod
    def instance(cls, spark=None) -> "HadoopBackend":
        from pyspark.sql import SparkSession

        # cache per live session: a restarted SparkSession means a new
        # JVM gateway, and calls through the old one hang/error — rebuild
        # instead of handing out stale py4j handles
        active = spark if spark is not None else SparkSession.getActiveSession()
        if cls._inst is None or cls._inst._spark is not active:
            cls._inst = cls(active)
        return cls._inst

    def __init__(self, spark=None) -> None:
        if spark is None:
            from pyspark.sql import SparkSession

            spark = SparkSession.getActiveSession()
        if spark is None:
            raise RuntimeError(
                "state on a URI path needs an active SparkSession — its "
                "Hadoop configuration carries the connector/credentials "
                "for the scheme; create the session before touching state"
            )
        self._spark = spark
        self._jvm = spark._jvm
        self._conf = spark._jsc.hadoopConfiguration()
        from py4j.java_gateway import java_import

        java_import(self._jvm, "org.apache.hadoop.fs.FileContext")
        java_import(self._jvm, "org.apache.hadoop.fs.Options")
        self._gateway = spark.sparkContext._gateway

    # --- plumbing ---------------------------------------------------------
    def _path(self, p: str):
        return self._jvm.org.apache.hadoop.fs.Path(p)

    def _fs(self, jp):
        return jp.getFileSystem(self._conf)

    @staticmethod
    def _translate(e):
        """Map java IO exceptions onto the builtin classes the contract
        code dispatches on."""
        from py4j.protocol import Py4JJavaError

        if not isinstance(e, Py4JJavaError):
            return e
        name = e.java_exception.getClass().getName()
        msg = str(e.java_exception.getMessage())
        if name == "java.io.FileNotFoundException":
            return FileNotFoundError(msg)
        if name in (
            "org.apache.hadoop.fs.FileAlreadyExistsException",
            "java.nio.file.FileAlreadyExistsException",
            "org.apache.hadoop.fs.PathExistsException",
            # conditional-create race: the store rejected the PUT with 412
            # PreconditionFailed because the key appeared between build()
            # and close(). This module never reads with etag pinning, so
            # here the exception can only mean "already exists".
            "org.apache.hadoop.fs.s3a.RemoteFileChangedException",
        ):
            return FileExistsError(msg)
        return e

    # --- probes -----------------------------------------------------------
    def isdir(self, p: str) -> bool:
        jp = self._path(p)
        fs = self._fs(jp)
        return fs.exists(jp) and fs.getFileStatus(jp).isDirectory()

    def isfile(self, p: str) -> bool:
        jp = self._path(p)
        fs = self._fs(jp)
        return fs.exists(jp) and fs.getFileStatus(jp).isFile()

    def listdir(self, p: str) -> list[str]:
        jp = self._path(p)
        try:
            return [s.getPath().getName() for s in self._fs(jp).listStatus(jp)]
        except Exception as e:  # noqa: BLE001 — translated below
            raise self._translate(e) from None

    def mtime(self, p: str) -> float:
        jp = self._path(p)
        try:
            return self._fs(jp).getFileStatus(jp).getModificationTime() / 1000.0
        except Exception as e:  # noqa: BLE001
            raise self._translate(e) from None

    def has_parquet_recursive(self, p: str) -> bool:
        jp = self._path(p)
        fs = self._fs(jp)
        if not fs.exists(jp):
            return False
        it = fs.listFiles(jp, True)
        while it.hasNext():
            if it.next().getPath().getName().endswith(".parquet"):
                return True
        return False

    # --- mutation ---------------------------------------------------------
    def makedirs(self, p: str) -> None:
        jp = self._path(p)
        self._fs(jp).mkdirs(jp)

    def read_text(self, p: str) -> str:
        jp = self._path(p)
        try:
            stream = self._fs(jp).open(jp)
        except Exception as e:  # noqa: BLE001
            raise self._translate(e) from None
        try:
            return bytes(stream.readAllBytes()).decode("utf-8")
        finally:
            stream.close()

    def read_text_with_mtime(self, p: str) -> tuple[str, float]:
        # no single-inode guarantee through the FS API: status then read
        # (the narrow window is acceptable for the advisory-grade lease
        # tier these stores get — see module docstring)
        return self.read_text(p), self.mtime(p)

    def _write(self, jp, text: str, overwrite: bool) -> None:
        fs = self._fs(jp)
        try:
            out = fs.create(jp, overwrite)
        except Exception as e:  # noqa: BLE001
            raise self._translate(e) from None
        try:
            out.write(bytearray(text.encode("utf-8")))
            try:
                out.hsync()  # durable on HDFS; no-op/unsupported elsewhere
            except Exception:  # noqa: BLE001 — object-store streams
                pass
        finally:
            out.close()

    def write_text(self, p: str, text: str, *, sync_dir: bool = False) -> None:
        # sync_dir is a local-FS concept (directory-entry durability);
        # the Hadoop stores commit metadata at create/close
        self._write(self._path(p), text, True)

    def publish_text(self, dir_: str, name: str, text: str) -> None:
        dst = self._path(os.path.join(dir_, name))
        fs = self._fs(dst)
        if fs.getScheme() in _RENAME_ATOMIC_SCHEMES:
            tmp = self._path(
                os.path.join(dir_, f".{name}.tmp-{uuid.uuid4().hex[:8]}")
            )
            self._write(tmp, text, True)
            fc = self._jvm.FileContext.getFileContext(self._conf)
            overwrite = self._gateway.new_array(self._jvm.Options.Rename, 1)
            overwrite[0] = self._jvm.Options.Rename.OVERWRITE
            fc.rename(tmp, dst, overwrite)
        else:
            # object store: the single-key overwrite PUT IS the atomic
            # primitive (strongly consistent, all-or-nothing object swap)
            self._write(dst, text, True)

    def create_excl(self, p: str, text: str) -> None:
        jp = self._path(p)
        fs = self._fs(jp)
        scheme = fs.getScheme()
        if scheme in _RENAME_ATOMIC_SCHEMES:
            # create(overwrite=false) is a true atomic create-if-absent
            # on these filesystems — nothing more needed
            self._write(jp, text, False)
            return
        # object store: prefer the conditional-PUT tier (server-side
        # If-None-Match), fall back to the client-side check loudly
        if self._conditional_create(fs, jp, text):
            return
        if scheme not in _ADVISORY_WARNED:
            _ADVISORY_WARNED.add(scheme)
            import logging

            logging.getLogger(__name__).warning(
                "scheme %r exposes no conditional-create capability "
                "(%s): the writer lease falls back to a client-side "
                "existence check and is ADVISORY-GRADE — two writers "
                "racing within the check-to-commit window can both "
                "acquire. Crash safety is unaffected (manifest/epoch "
                "machinery); only concurrent-writer refusal weakens.",
                scheme,
                _CONDITIONAL_CREATE_OPT,
            )
        self._write(jp, text, False)

    def _conditional_create(self, fs, jp, text: str) -> bool:
        """Attempt an atomic create-if-absent via the Hadoop 3.4
        conditional-write builder option. Returns True when the
        conditional tier handled the create (success), False when the
        store/builder does not support it (caller falls back), raises
        FileExistsError when the store rejected the commit because the
        key exists (lost the race or lease already held)."""
        try:
            if not fs.hasPathCapability(jp, _CONDITIONAL_CREATE_OPT):
                return False
        except Exception:  # noqa: BLE001 — older FS without the probe
            return False
        try:
            builder = fs.createFile(jp)
            builder.overwrite(False)
            builder.must(_CONDITIONAL_CREATE_OPT, True)
            out = builder.build()
        except Exception as e:  # noqa: BLE001
            te = self._translate(e)
            if isinstance(te, FileExistsError):
                raise te from None
            # builder rejected the must() option despite the capability
            # probe (connector drift) — advisory fallback
            return False
        try:
            out.write(bytearray(text.encode("utf-8")))
        except Exception as write_exc:
            # A failed write must NOT commit: close() is the PUT on
            # object stores, so closing here would create a truncated
            # lease object that phantom-holds the lock until
            # crashed-holder cleanup. Abort if the stream supports it,
            # then best-effort delete in case a partial commit landed.
            try:
                out.abort()  # Hadoop Abortable (S3A block output)
            except Exception:  # noqa: BLE001 — not abortable
                # close() IS the conditional PUT. Delete ONLY when it
                # succeeds (our truncated object demonstrably committed):
                # a FileExistsError/412 from close() means a COMPETING
                # writer took the key between build() and now, and
                # deleting would remove the winner's VALID lease — a
                # third party could then acquire while the winner still
                # believes it holds the lock (mutual-exclusion break).
                # Any other close() failure leaves commit state unknown:
                # leave the key alone — if a truncated object did land,
                # crashed-holder cleanup reclaims it (a liveness cost,
                # never a safety break).
                committed = False
                try:
                    out.close()
                    committed = True
                except Exception:  # noqa: BLE001
                    pass
                if committed:
                    try:
                        fs.delete(jp, False)
                    except Exception:  # noqa: BLE001
                        pass
            raise self._translate(write_exc) from None
        try:
            out.close()  # the PUT commits HERE; 412 surfaces here
        except Exception as e:  # noqa: BLE001
            raise self._translate(e) from None
        return True

    def unlink(self, p: str, *, missing_ok: bool = False) -> None:
        jp = self._path(p)
        if not self._fs(jp).delete(jp, False) and not missing_ok:
            raise FileNotFoundError(p)

    def rename(self, src: str, dst: str) -> None:
        js, jd = self._path(src), self._path(dst)
        fs = self._fs(js)
        if not fs.exists(js):
            raise FileNotFoundError(src)
        if fs.exists(jd):
            fs.delete(jd, False)
        if not fs.rename(js, jd):
            raise FileNotFoundError(src)

    def restore_if_absent(self, src: str, dst: str) -> None:
        # no hardlinks through the FS API: exists-check + rename (the
        # check-to-rename window is documented lease-advisory territory
        # on object stores; on HDFS rename refuses an existing dst anyway)
        js, jd = self._path(src), self._path(dst)
        fs = self._fs(js)
        if not fs.exists(jd):
            fs.rename(js, jd)
        else:
            fs.delete(js, False)

    def rmtree(self, p: str) -> None:
        jp = self._path(p)
        self._fs(jp).delete(jp, True)

    @contextmanager
    def lock_dir(self, dir_: str):
        """No cross-process lock primitive through the FS API — the
        rename-claim protocol in writer_lease is the takeover guard
        here, and the lease tier is advisory-grade on object stores
        (module docstring); manifest/epoch machinery carries crash
        safety regardless."""
        yield

