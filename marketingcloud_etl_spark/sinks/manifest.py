"""Generation-manifest publishing for persisted state tables.

Every state table in the incremental family (minhash band-bucket index
q388, semantic cell index q389, BM25 postings q390, CC labels q391) is
maintained by writing a FRESH GENERATION directory (append batches,
then compaction/TTL rewrites — q393/q396/q397) rather than rewriting in
place: a reader scanning a dir that a writer is simultaneously
rewriting sees a torn state. What turns the pile of generation dirs
into a consistent state is a MANIFEST — one tiny JSON file whose
``current`` field names the live generation. Publishing is
write-temp + ``os.replace``: rename within a filesystem is atomic on
POSIX, so every reader sees the OLD pointer or the NEW pointer, never a
partial file — the same publish discipline q343's two-phase-commit sink
applies to output batches, here applied to state generations. (On a
100 TB deployment the manifest lives on the object store / HDFS with
the same rename-or-overwrite-atomicity contract; the generation dirs
are immutable once published, so retention is "delete generations no
manifest has pointed at for the grace period".)

Reference parity note: the reference keeps its incremental state as a
COUNT WATERMARK read back from the target table
(/root/reference/app/salesforce_extractor.py — R16); the manifest is
the same durable-pointer idea for state too large to re-derive.
"""

from __future__ import annotations

import contextlib
import json
import os

__all__ = [
    "publish_generation",
    "current_generation",
    "generation_at",
    "read_current",
    "read_generation",
    "gc_generations",
]

# keys the manifest document owns; caller meta must not collide (a
# meta {'dir': ...} would make gc delete a path the manifest never
# owned, {'gc': True} would make the fresh entry refuse reads)
_RESERVED_META = frozenset({"current", "history", "dir", "gc"})


@contextlib.contextmanager
def _writer_lock(manifest_path: str):
    """Exclusive flock serializing manifest WRITERS (publish vs gc):
    both are read-modify-write, and an unserialized interleave loses
    whichever write lands first — a publish swallowed by a concurrent
    gc repoints readers at the previous generation and strands the new
    dir outside history forever. The lock is a sibling file because
    the manifest itself is replaced, not rewritten, on every publish.
    Readers stay lock-free: os.replace keeps the manifest itself
    atomic for them."""
    import fcntl

    with open(manifest_path + ".lock", "w") as lk:
        fcntl.flock(lk, fcntl.LOCK_EX)
        try:
            yield
        finally:
            fcntl.flock(lk, fcntl.LOCK_UN)


def _read_doc(manifest_path: str) -> dict:
    """Load the manifest, distinguishing 'not published yet' (fresh
    start) from 'exists but unreadable/corrupt' (an incident — raising
    beats silently resetting the history, which would orphan every
    published generation from retention and shift every time-travel
    index)."""
    try:
        with open(manifest_path) as f:
            return json.load(f)
    except FileNotFoundError:
        return {"history": []}


def _write_doc(manifest_path: str, doc: dict) -> None:
    """write-temp + fsync + rename + DIRECTORY fsync. The parent-dir
    fsync makes the rename itself durable: without it a power loss
    after os.replace can revert the directory entry to the previous
    manifest — fatal for gc's publish-marks-THEN-deletes ordering
    (the reverted manifest would present deleted dirs as live). The
    temp name carries the pid so two processes racing outside the
    writer lock can never truncate each other's scratch file."""
    tmp = f"{manifest_path}.tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(doc, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, manifest_path)
    dfd = os.open(os.path.dirname(os.path.abspath(manifest_path)) or ".", os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)


def _resolve(manifest_path: str, gen_dir: str) -> str:
    # a relative gen_dir is relative to the manifest's own dir, so a
    # state tree built in a tmp dir and renamed into place stays valid
    return os.path.join(os.path.dirname(manifest_path), gen_dir)


def publish_generation(manifest_path: str, gen_dir: str, meta: dict | None = None) -> dict:
    """Atomically repoint ``manifest_path`` at ``gen_dir`` (absolute,
    or relative to the manifest's dir). The
    manifest JSON is written to a sibling temp file, fsync'd, then
    ``os.replace``d over the manifest (parent dir fsync'd so the
    rename survives power loss) — readers racing the publish see the
    previous generation or the new one, never a torn file. Returns
    the manifest document. ``meta`` keys must not collide with the
    manifest's own (``current``/``history``/``dir``/``gc``).

    The manifest also carries the full publish HISTORY (an ordered
    list of every generation ever pointed at, with its meta): since
    published generation dirs are immutable, the history makes every
    past state addressable — time-travel reads (:func:`read_generation`,
    q415), incident rollback (re-publish a past entry), and retention
    (:func:`gc_generations`)."""
    bad = _RESERVED_META & set(meta or {})
    if bad:
        raise ValueError(f"meta uses reserved manifest keys: {sorted(bad)}")
    with _writer_lock(manifest_path):
        history = _read_doc(manifest_path).get("history", [])
        history = history + [{"dir": gen_dir, **(meta or {})}]
        doc = {"current": gen_dir, "history": history, **(meta or {})}
        _write_doc(manifest_path, doc)
    return doc


def current_generation(manifest_path: str) -> str:
    """The generation dir the manifest currently points at."""
    with open(manifest_path) as f:
        return _resolve(manifest_path, json.load(f)["current"])


def read_current(spark, manifest_path: str):
    """Open the LIVE generation as a DataFrame — the only way state
    readers should address a maintained index (a raw dir path can be
    mid-rewrite; the manifest pointer never is)."""
    return spark.read.parquet(current_generation(manifest_path))


def generation_at(manifest_path: str, index: int) -> str:
    """The generation dir of the ``index``-th publish (0 = first;
    negative indexes from the latest, Python-style). Raises IndexError
    past either end of the history — including on a manifest written
    before history support existed (treated as an empty history) — and
    LookupError for an entry whose directory :func:`gc_generations`
    has already deleted (the history record survives for audit; the
    data does not)."""
    with open(manifest_path) as f:
        entry = json.load(f).get("history", [])[index]
    if entry.get("gc"):
        raise LookupError(
            f"generation {index} ({entry['dir']}) was garbage-collected"
        )
    return _resolve(manifest_path, entry["dir"])


def gc_generations(manifest_path: str, keep_last: int = 2) -> dict:
    """RETENTION pass — the delete side of the lifecycle the module
    doc promises ("retention is delete generations no manifest has
    pointed at for the grace period"): every generation dir whose
    history entries ALL fall outside the last ``keep_last`` publishes
    — and which is not the ``current`` pointer, which is always kept
    regardless of ``keep_last`` — is removed from disk, and its
    history entries are marked ``gc: true`` so the publish record
    stays addressable for audit while :func:`generation_at` /
    :func:`read_generation` refuse it with a clear error instead of a
    dangling-path read.

    Crash-safety ordering: the gc-marked manifest is published FIRST
    (same write-temp + fsync + ``os.replace`` discipline as
    :func:`publish_generation`), THEN the dirs are deleted — a crash
    between the two leaves marked-but-present dirs (harmless; a re-run
    finishes the delete), never a deleted dir whose history entry
    still looks readable. A dir republished under several history
    entries (rollback-by-republish) is kept as long as ANY of its
    entries is inside the keep window.

    Returns ``{"current", "kept", "deleted"}`` (dir lists sorted).
    On a 100 TB deployment this is the only operation in the manifest
    family that destroys data, so the grace policy (``keep_last``)
    belongs to the operator, not the engine — the conservation oracle
    (q421) pins that kept generations stay bit-intact."""
    import shutil

    with _writer_lock(manifest_path):
        # _read_doc, not a bare open: gc before any publish is a
        # legitimate no-op (empty report), while a CORRUPT manifest
        # still raises — deleting dirs against a half-read history is
        # the one failure mode this function must never have
        doc = _read_doc(manifest_path)
        history = doc.get("history", [])
        if not history:
            return {"current": doc.get("current"), "kept": [], "deleted": []}
        # doc.get("current") is None pre-first-publish / on a legacy
        # manifest — discard it so None never lands in the keep set
        keep_dirs = {doc.get("current")} - {None}
        if keep_last > 0:
            keep_dirs |= {h["dir"] for h in history[-keep_last:]}
        for h in history:
            if h["dir"] not in keep_dirs and not h.get("gc"):
                h["gc"] = True
        doc["history"] = history
        _write_doc(manifest_path, doc)
        # Delete every gc-marked dir STILL ON DISK — not just the ones
        # this pass marked: a prior run that crashed (or hit a
        # transient delete error) between the manifest publish and its
        # rmtree loop leaves marked-but-present dirs, and the recovery
        # contract is that the next pass finishes the delete rather
        # than leaking them forever. Inside the writer lock so no
        # concurrent publish/gc observes a half-deleted pass.
        deleted: list[str] = []
        for h in history:
            d = _resolve(manifest_path, h["dir"])
            if h.get("gc") and h["dir"] not in keep_dirs and os.path.isdir(d):
                shutil.rmtree(d)
                deleted.append(h["dir"])
    kept = sorted({h["dir"] for h in history if not h.get("gc")})
    return {"current": doc.get("current"), "kept": kept, "deleted": sorted(set(deleted))}


def read_generation(spark, manifest_path: str, index: int):
    """TIME-TRAVEL read: open the state exactly as the ``index``-th
    publish saw it. Sound because published generations are immutable
    — maintenance always writes a FRESH dir and repoints (q393/q396/
    q397/q399's contract), so a historical pointer never dangles until
    retention deletes it.

    Retention race contract: readers are deliberately lock-free, so a
    concurrent :func:`gc_generations` can delete this generation
    between the manifest check and the Spark ACTION that consumes the
    returned (lazy) DataFrame. The gc-flag is therefore RE-CHECKED
    after Spark has planned the scan (narrowing the window from
    "until the action runs" to "during planning"), but the residual
    race is closed by policy, not locks: time-travel reads must be
    MATERIALIZED within the ``keep_last`` grace window — run retention
    with a window at least as old as the longest historical read you
    allow, exactly like any MVCC vacuum horizon."""
    gen_dir = generation_at(manifest_path, index)
    try:
        df = spark.read.parquet(gen_dir)  # plans eagerly: lists files now
    except Exception as exc:  # AnalysisException PATH_NOT_FOUND
        # a gc that completed between generation_at() and the read
        # leaves a dangling pointer for one beat. gc marks the manifest
        # entry BEFORE deleting the dir (inside the writer lock), so
        # "retention won" is decided by RE-READING THE MANIFEST — not
        # by probing the path, which on an object store would classify
        # every credentials/network/corrupt-footer failure as gc'd. If
        # the entry is now tombstoned, translate to the same
        # LookupError a pre-deleted read raises; if it is still live,
        # the failure is a genuine I/O error and propagates as itself.
        try:
            generation_at(manifest_path, index)
        except LookupError:
            raise LookupError(
                f"generation {index} ({gen_dir}) was garbage-collected "
                "before the read could be planned"
            ) from exc
        raise
    # re-validate AFTER planning — a gc that won the race deleted the
    # dir (or marked the entry) while Spark listed it; surface the
    # same LookupError as a pre-deleted read, not a dangling-path scan.
    # (The isdir probe is a local-fs-only belt-and-braces guard; on an
    # object store the manifest re-read above is the authoritative
    # check, and the grace-window policy below is what actually closes
    # the race.)
    generation_at(manifest_path, index)
    if not os.path.isdir(gen_dir):
        raise LookupError(
            f"generation {index} ({gen_dir}) was garbage-collected "
            "while the read was being planned"
        )
    return df
