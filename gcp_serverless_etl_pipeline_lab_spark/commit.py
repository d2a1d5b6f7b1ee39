"""The package's one commit module: every durable commit goes through the
primitives here — the warehouse's ``_CURRENT`` pointer flip
(``sinks``), the manifest commits of the three index families
(``incremental``, ``lexindex``, ``annindex``), the BPE model artifact
(``bpetrain``) and the nightly driver's small JSON ledgers
(``streaming/nightly``). Delta Lake's shape: put-if-absent claims plus
one atomically replaced log record, whatever the table holds.

- ``claim`` reserves the next number with an exclusive-create marker;
  ``release`` drops the marker once the commit landed.
- ``locked`` serializes a read-modify-replace under an exclusive
  ``flock`` on a sidecar lock file.
- ``replace`` writes a uniquely named temp file, then moves it over the
  target with ``os.replace``: readers see the old or the new file, never
  a torn one.
- ``load_manifest`` / ``write_manifest`` read and commit the generational
  index manifest. Only version 2 is read; any other layout is refused
  here, in one place, and must be rebuilt. ``claim_generation``,
  ``applied_increments`` / ``applied_deletes`` and ``split_fold_slice``
  are the manifest's ledger rules the three index families share.
- ``is_stale`` is the age test both vacuums share.

Local filesystem only: ``claim`` and ``replace`` refuse a ``scheme://``
URI before anything lands in a relative directory named after it.
"""

from __future__ import annotations

import contextlib
import fcntl
import json
import os
import re
import time
import uuid
from collections.abc import Callable, Iterable, Iterator

MANIFEST = "_MANIFEST.json"
MANIFEST_VERSION = 2
# dot-prefixed: hidden from Spark and from every listing in the package
GENCLAIM_PREFIX = ".genclaim-"
_MANIFEST_LOCK = "." + MANIFEST + ".lock"
_URI = re.compile(r"[A-Za-z][A-Za-z0-9+.-]*://")


def _require_local(path: str) -> None:
    if _URI.match(path):
        raise ValueError(
            f"{path} is a URI; commits run on the local filesystem only — "
            "pass a local path"
        )


def marker(dir: str, prefix: str, n: int) -> str:
    return os.path.join(dir, f"{prefix}{n}")


def claims(dir: str, prefix: str) -> list[int]:
    """Numbers claimed under ``dir`` (marker present) — a racing,
    committing or crashed writer holds these."""
    if not os.path.isdir(dir):
        return []
    return sorted(
        int(name[len(prefix):])
        for name in os.listdir(dir)
        if name.startswith(prefix) and name[len(prefix):].isdigit()
    )


def claim(dir: str, prefix: str, taken: Callable[[], set[int]]) -> int:
    """Reserve the next free number under ``dir`` with an exclusive-create
    marker ``<prefix><n>`` (``open(..., "x")`` — atomic on POSIX; the
    object-store analogue is an if-none-match PUT). ``taken`` returns the
    numbers the caller's layout already uses; it and the markers on disk
    are re-read on every attempt, so a writer that loses the race retries
    one higher. A crashed writer's marker only costs a skipped number."""
    _require_local(dir)
    os.makedirs(dir, exist_ok=True)
    while True:
        cand = max(taken() | set(claims(dir, prefix)), default=-1) + 1
        try:
            with open(marker(dir, prefix, cand), "x"):
                return cand
        except FileExistsError:
            continue


def release(dir: str, prefix: str, n: int) -> None:
    """Drop claim marker ``n`` (already gone is fine)."""
    with contextlib.suppress(OSError):
        os.remove(marker(dir, prefix, n))


@contextlib.contextmanager
def locked(dir: str, name: str) -> Iterator[None]:
    """Exclusive ``flock`` on the sidecar lock file ``dir/name`` for the
    body — serializes a read-modify-replace (the object-store analogue
    is a conditional PUT on the target's etag, retried on failure)."""
    with open(os.path.join(dir, name), "w") as fh:
        fcntl.flock(fh, fcntl.LOCK_EX)
        try:
            yield
        finally:
            fcntl.flock(fh, fcntl.LOCK_UN)


def replace(file: str, text: str) -> None:
    """Atomically replace ``file`` with ``text``: write a dot-prefixed
    temp file with a per-writer unique name next to it, then
    ``os.replace`` it over ``file`` (the object-store analogue is one
    PUT). Two writers that hold no lock cannot tear each other's temp."""
    _require_local(file)
    d = os.path.dirname(file) or "."
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".{os.path.basename(file)}.{uuid.uuid4().hex}.tmp")
    try:
        with open(tmp, "w") as fh:
            fh.write(text)
        os.replace(tmp, file)
    except BaseException:
        with contextlib.suppress(OSError):
            os.remove(tmp)
        raise


# ---- generational index manifests (incremental, lexindex, annindex)


def load_manifest(path: str) -> dict:
    """The manifest of the index at ``path``. A manifest whose version is
    not 2 (the generational layout every current writer produces) is
    refused, not upgraded."""
    with open(os.path.join(path, MANIFEST)) as fh:
        man = json.load(fh)
    if man.get("version") != MANIFEST_VERSION:
        raise ValueError(
            f"index at {path} has manifest version {man.get('version')!r}; "
            f"only version {MANIFEST_VERSION} is read — rebuild it with its "
            "build function"
        )
    return man


def write_manifest(path: str, man: dict) -> None:
    """Commit ``man`` as the manifest of the index at ``path`` — THE
    commit point of every build, append, delete and fold."""
    replace(os.path.join(path, MANIFEST), json.dumps(man))


def manifest_lock(path: str):
    """``locked`` on the manifest's sidecar lock: hold it across the
    re-read, check and ``write_manifest`` of a commit."""
    return locked(path, _MANIFEST_LOCK)


def applied_increments(man: dict) -> set:
    """Increment ids whose append is committed: the listed generations'
    plus those compaction folded away — a replay of any of them is a
    committed no-op."""
    return {g.get("increment_id") for g in man["generations"]} | set(
        man.get("compacted_increments", [])
    )


def applied_deletes(man: dict) -> set:
    """Increment ids whose delete is committed: the active tombstones'
    plus those compaction absorbed."""
    return {t.get("increment_id") for t in man.get("tombstones", [])} | set(
        man.get("applied_deletes", [])
    )


def claim_generation(path: str) -> int:
    """Claim the next generation number of the index at ``path``. Listed
    generations and tombstones share one number space: a claim must not
    reuse an active tombstone's number and overwrite its rows."""

    def taken() -> set[int]:
        man = load_manifest(path)
        return {g["gen"] for g in man["generations"]} | {
            t["gen"] for t in man.get("tombstones", [])
        }

    return claim(path, GENCLAIM_PREFIX, taken)


def split_fold_slice(
    entries: list[dict],
    max_generations_to_fold: int | None,
    protect_increments: set[str] | None = None,
) -> tuple[list[dict], list[dict]]:
    """The one tiering policy every index compactor shares:
    ``(fold_entries, keep_entries)`` where the fold slice is the NEWEST
    ``max_generations_to_fold`` listed generations (all of them when
    None or >= len — a full fold), and keep is the untouched prefix in
    its original order. ``k < 2`` raises — a 1-fold is a no-op rewrite.

    ``protect_increments``: entries whose ``increment_id`` is in the set
    are PULLED OUT of the fold slice and kept listed under their own
    generation — the nightly retrieval loop passes the
    lex-applied-but-ANN-pending ids so a compaction between a mid-night
    crash and its replay can never fold an increment whose sibling leg
    still needs ``exclude_increment_id`` to find it. Protected entries
    keep their relative order ahead of the fold result."""
    if max_generations_to_fold is not None and max_generations_to_fold < 2:
        raise ValueError(
            "max_generations_to_fold must be >= 2 (a 1-fold is a no-op rewrite)"
        )
    entries = list(entries)
    full = (
        max_generations_to_fold is None
        or max_generations_to_fold >= len(entries)
    )
    fold = entries if full else entries[-max_generations_to_fold:]
    keep = [] if full else entries[: -max_generations_to_fold]
    if protect_increments:
        keep = keep + [
            g for g in fold if g.get("increment_id") in protect_increments
        ]
        fold = [g for g in fold if g.get("increment_id") not in protect_increments]
    return fold, keep


# ---- vacuum age test (sinks.vacuum_versions, incremental.vacuum_index)


def _mtime(path: str) -> float | None:
    try:
        return os.path.getmtime(path)
    except OSError:
        return None


def is_stale(paths: Iterable[str], min_age_seconds: float) -> bool:
    """True when the newest of ``paths`` is at least ``min_age_seconds``
    old — a file by its own mtime, a directory by the newest file under
    it (its own mtime when it holds none). A live writer keeps producing
    files, and nothing legitimately idles mid-write past the vacuum
    horizon, so this is how a vacuum tells a crash from a slow writer.
    False when none of the paths exists."""
    stamps = []
    for p in paths:
        if os.path.isdir(p):
            files = [
                t
                for r, _, fs in os.walk(p)
                for f in fs
                if (t := _mtime(os.path.join(r, f))) is not None
            ]
            stamp = max(files, default=_mtime(p))
        else:
            stamp = _mtime(p)
        if stamp is not None:
            stamps.append(stamp)
    return bool(stamps) and time.time() - max(stamps) >= min_age_seconds
