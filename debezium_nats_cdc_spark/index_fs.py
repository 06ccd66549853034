"""Pluggable metadata I/O for the persisted ANN index directory
(VERDICT r13 task 6 — the ``streaming/state_backend.py`` backend-split
pattern applied to the index's METADATA plane).

What goes through the seam: the operations the index layer runs
ROUTINELY against its directory and that an object store serves
natively —

  * flat recursive listings with sizes (the PQ attachment fingerprint,
    ``maybe_compact``'s file-count poll) → LIST;
  * small JSON documents (the ``_stream_epoch.json`` epoch sidecar,
    the PQ ``model.json``) → GET/PUT of one object;
  * marker existence (``_rebalance.lock``) → HEAD;
  * dead code-partition removal (``ivf_refresh_pq``'s erasure-cascade
    leg) → LIST + batch DELETE (r15).

What deliberately does NOT go through it: the data-plane swap
machinery (``ivf_compact`` / ``ivf_rebalance``'s staging dir + two
renames, ``_recover_swap`` healing, ``ivf_delete``'s partition
removal) and the parquet reads/writes themselves (Spark's Hadoop
filesystem layer already abstracts those).  The swap machinery is
correct only on rename-atomic storage (local FS, HDFS-class); its
object-store mapping is a TABLE-FORMAT COMMIT (REPLACE TABLE /
snapshot pointer), not a path translation — the same split
``state_backend.py`` documents for pipeline state, recorded for the
index in OPERATIONS.md §11.

Atomicity contract for ``write_json_atomic``: a reader never observes
a partial document.  ``LocalIndexFS`` uses write-tmp + ``os.replace``;
an object store gets this for free (PUT is atomic per object), so an
implementation there is a plain PUT.

``LocalIndexFS`` is the one shipped implementation: the data plane
above is rename-atomic-only, so an object-store metadata backend
alone could not serve a deployment.  A backend is installed once,
process-wide, via ``set_index_fs`` — mirroring how a cluster
deployment swaps ``StateBackend`` — and every fingerprint, sidecar,
poll, and marker check in ``operators/ann_index.py`` /
``operators/ann_pq.py`` / ``streaming/ann_ingest.py`` routes through
it (tests/test_index_fs.py pins, with recording fakes, that no
metadata call bypasses the seam).
"""

from __future__ import annotations

import abc
import json
import os


class IndexFS(abc.ABC):
    """Metadata-plane storage contract for an ANN index directory."""

    @abc.abstractmethod
    def listing(self, root: str) -> list[list]:
        """Sorted flat ``[relpath, size]`` pairs of every file under
        ``root``, recursively; dot-files skipped; ``[]`` when the root
        is missing.  Lists (not tuples) so the result round-trips
        through JSON unchanged — it IS the PQ attachment fingerprint's
        payload, so the shape is a compatibility surface.

        MUST include ``_``-prefixed names (unlike ``count_files``):
        they are fingerprint PAYLOAD — the ``_stream_epoch.json``
        sidecar advancing is exactly what invalidates a stale PQ
        attachment after an ingest epoch.  An implementation that
        "symmetrically" skips them opens a staleness hole: reads
        would accept codes that predate the ingested vectors."""

    @abc.abstractmethod
    def count_files(self, root: str, suffix: str = ".parquet") -> int:
        """Number of data files under ``root`` (recursive); 0 when
        missing.  The ``maybe_compact`` poll — must stay cheap (names
        only).

        MUST skip ``_``- and ``.``-prefixed bookkeeping names (unlike
        ``listing``): this count sizes DATA-file fragmentation, and an
        implementation that counts ``_SUCCESS``/sidecar objects would
        trip compaction thresholds on bookkeeping churn."""

    @abc.abstractmethod
    def read_json(self, path: str) -> dict | None:
        """Parse the JSON document at ``path``; None when absent."""

    @abc.abstractmethod
    def write_json_atomic(self, path: str, rec: dict) -> None:
        """Publish ``rec`` as the document at ``path``; readers never
        observe a partial write."""

    @abc.abstractmethod
    def exists(self, path: str) -> bool:
        """Whether ``path`` exists (marker/attachment presence)."""

    @abc.abstractmethod
    def remove(self, path: str) -> None:
        """Remove the document at ``path`` if present (idempotent) —
        attachment invalidation before a rebuild overwrites its data."""

    @abc.abstractmethod
    def remove_tree(self, root: str) -> None:
        """Remove every file under ``root``, recursively; idempotent
        when ``root`` is absent.  The PII erasure cascade's
        dead-partition leg (``ivf_refresh_pq`` dropping the code
        partition of a fully-erased cell) — on an object store this is
        LIST + batch DELETE.  Failures must RAISE, not swallow: the
        caller verifies emptiness before committing a fresh
        fingerprint, and a silent no-op here would leave PII-derived
        codes on disk behind a fingerprint that says they are gone."""


class LocalIndexFS(IndexFS):
    """POSIX implementation (single-node / shared-FS deployments).
    Stateless — safe to share one instance across indexes and
    threads."""

    def listing(self, root: str) -> list[list]:
        out: list[list] = []
        for r, _dirs, files in os.walk(root):
            rel = os.path.relpath(r, root)
            out.extend(
                [os.path.join(rel, f),
                 os.path.getsize(os.path.join(r, f))]
                for f in files if not f.startswith("."))
        return sorted(out)

    def count_files(self, root: str, suffix: str = ".parquet") -> int:
        n = 0
        for _r, _dirs, files in os.walk(root):
            n += sum(1 for f in files
                     if f.endswith(suffix)
                     and not f.startswith(("_", ".")))
        return n

    def read_json(self, path: str) -> dict | None:
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return json.load(f)

    def write_json_atomic(self, path: str, rec: dict) -> None:
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(rec, f)
        os.replace(tmp, path)

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def remove(self, path: str) -> None:
        try:
            os.remove(path)
        except FileNotFoundError:
            pass

    def remove_tree(self, root: str) -> None:
        import shutil

        try:
            shutil.rmtree(root)
        except FileNotFoundError:
            pass


_INDEX_FS: IndexFS = LocalIndexFS()


def get_index_fs() -> IndexFS:
    return _INDEX_FS


def set_index_fs(fs: IndexFS) -> IndexFS:
    """Install a backend process-wide; returns the previous one (so
    tests — and staged rollouts — can restore it)."""
    global _INDEX_FS
    prev = _INDEX_FS
    _INDEX_FS = fs
    return prev
