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
  here, in one place, and must be rebuilt.
- The generation protocol of the three index families: artifacts land
  in a ``claim_generation``-numbered ``gen=N`` dir first, then one of
  three locked transactions lists them — ``commit_append`` (a new
  generation), ``commit_delete`` (a tombstone generation covering every
  generation listed) or ``commit_fold`` (generations replaced by one
  rewrite; ``split_fold_slice`` picks them, ``absorbed`` names the
  tombstones it applies). Each re-reads the manifest under the lock,
  makes an ``increment_id`` replay a no-op and refuses a commit that
  would lose a concurrent one. ``vacuum_index`` sweeps what crashed or
  unlisted generations leave behind. The Spark side of the same layout
  (reading generations, masking tombstones) is ``operators/generations``.
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
import shutil
import time
import uuid
from collections.abc import Callable, Iterable, Iterator

MANIFEST = "_MANIFEST.json"
MANIFEST_VERSION = 2
# dot-prefixed: hidden from Spark and from every listing in the package
GENCLAIM_PREFIX = ".genclaim-"
_MANIFEST_LOCK = "." + MANIFEST + ".lock"
_URI = re.compile(r"[A-Za-z][A-Za-z0-9+.-]*://")
_GEN_DIR = re.compile(r"gen=(\d+)")


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


# ---- generational index manifests and their transactions


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


def commit_append(
    path: str,
    gen: int,
    increment_id: str | None,
    entry: dict,
    fence: Callable[[dict], None] | None = None,
) -> bool:
    """List claimed generation ``gen`` (its artifacts already written) as
    the append of ``increment_id``; ``entry`` carries the family's extra
    generation fields. Under the manifest lock, on the re-read manifest:

    - a replay of an increment that is already committed (a same-id
      race lost) is a no-op: the claim is released, ``gen`` stays an
      orphan for ``vacuum_index`` and False is returned;
    - ``fence(cur)`` may raise to refuse the commit (the ANN index
      checks its model epoch);
    - a ``gen`` that is already listed means the claim was stolen (swept
      past the vacuum horizon during a stall) and the thief committed
      it; listing it twice would double-read it, so this raises.

    Otherwise the entry is appended, the manifest written and the claim
    released; returns True."""
    with manifest_lock(path):
        cur = load_manifest(path)
        if increment_id is not None and increment_id in applied_increments(cur):
            release(path, GENCLAIM_PREFIX, gen)
            return False
        if fence is not None:
            fence(cur)
        if any(g["gen"] == gen for g in cur["generations"]):
            raise RuntimeError(
                f"generation {gen} already committed at {path}; "
                "claim was lost mid-append — retry the append"
            )
        cur["generations"].append(
            {"gen": gen, "increment_id": increment_id, **entry}
        )
        write_manifest(path, cur)
    release(path, GENCLAIM_PREFIX, gen)
    return True


def _fence_appends(path: str, seen: dict, cur: dict, op: str) -> None:
    if {g["gen"] for g in cur["generations"]} != {
        g["gen"] for g in seen["generations"]
    }:
        raise RuntimeError(
            f"concurrent append landed during {op} at {path}; re-run {op}"
        )


def commit_delete(
    path: str,
    seen: dict,
    gen: int,
    increment_id: str | None,
    entry: dict,
    op: str,
) -> bool:
    """List ``tombstones/gen=N`` (already written) as the delete of
    ``increment_id``; ``entry`` carries the family's extra tombstone
    fields. ``seen`` is the manifest the caller resolved membership
    against. Under the manifest lock:

    - a replayed delete id is a no-op (claim released, False);
    - an append that committed since ``seen`` raises: the tombstone's
      cover would reach a generation the membership probe never saw,
      masking a concurrently (re-)appended id. The tombstone dir is an
      orphan for ``vacuum_index``; ``op`` is the call to re-run.

    The tombstone covers every generation listed now (``max_gen``): a
    later re-append lands above the cover and is live."""
    with manifest_lock(path):
        cur = load_manifest(path)
        if increment_id is not None and increment_id in applied_deletes(cur):
            release(path, GENCLAIM_PREFIX, gen)
            return False
        _fence_appends(path, seen, cur, op)
        cur.setdefault("tombstones", []).append(
            {
                "gen": gen,
                "increment_id": increment_id,
                "max_gen": max(g["gen"] for g in cur["generations"]),
                **entry,
            }
        )
        write_manifest(path, cur)
    release(path, GENCLAIM_PREFIX, gen)
    return True


def absorbed(man: dict, keep_entries: list[dict]) -> list[dict]:
    """The tombstones a fold applies in full: none of their covered
    generations stays listed in ``keep_entries``. A tombstone that still
    covers a kept generation stays active for the read-side mask."""
    return [
        t
        for t in man.get("tombstones", [])
        if not any(g["gen"] <= t["max_gen"] for g in keep_entries)
    ]


def commit_fold(
    path: str,
    seen: dict,
    gen: int,
    fold_entries: list[dict],
    keep_entries: list[dict],
    entry: dict,
    op: str,
    fields: dict | None = None,
) -> None:
    """Replace ``fold_entries`` by generation ``gen`` (already written,
    with the tombstones of ``seen`` applied to it); ``entry`` carries the
    family's extra generation fields and ``fields`` any top-level
    manifest fields the same commit sets (a retrain's model). ``seen``
    is the manifest the fold read. Under the manifest lock:

    - an append committed since ``seen`` raises: the fold is missing
      its generation;
    - a delete committed since ``seen`` raises: it was not applied to
      the rewrite, and the rewrite moved its covered rows above the
      tombstone's cover, so committing would resurrect them.

    ``op`` is the call to re-run; the folded dirs are orphans for
    ``vacuum_index``. The folded increment ids move to
    ``compacted_increments`` and the absorbed tombstones' ids to
    ``applied_deletes``, so replays stay no-ops. The kept entries keep
    their order ahead of the fold; the old generation dirs stay on disk
    for in-flight readers until ``vacuum_index`` sweeps them."""
    gone = absorbed(seen, keep_entries)
    gone_gens = {t["gen"] for t in gone}
    with manifest_lock(path):
        cur = load_manifest(path)
        _fence_appends(path, seen, cur, op)
        if {t["gen"] for t in cur.get("tombstones", [])} != {
            t["gen"] for t in seen.get("tombstones", [])
        }:
            raise RuntimeError(
                f"concurrent delete landed during {op} at {path}; re-run {op}"
            )
        cur["compacted_increments"] = sorted(
            set(cur.get("compacted_increments", []))
            | {
                g["increment_id"]
                for g in fold_entries
                if g.get("increment_id") is not None
            }
        )
        if gone:
            cur["applied_deletes"] = sorted(
                set(cur.get("applied_deletes", []))
                | {
                    t["increment_id"]
                    for t in gone
                    if t.get("increment_id") is not None
                }
            )
            cur["tombstones"] = [
                t for t in cur.get("tombstones", []) if t["gen"] not in gone_gens
            ]
        cur.update(fields or {})
        cur["generations"] = keep_entries + [
            {"gen": gen, "increment_id": None, **entry}
        ]
        write_manifest(path, cur)
    release(path, GENCLAIM_PREFIX, gen)


# ---- vacuum (sinks.vacuum_versions, vacuum_index)


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


def _artifact_roots(path: str) -> list[str]:
    """Top-level artifact dirs of the generational index at ``path`` —
    discovered from the layout itself (a dir holding ``gen=N`` children),
    so every family's artifacts and tombstones are swept by one vacuum."""
    roots = []
    for name in sorted(os.listdir(path)):
        root = os.path.join(path, name)
        if not os.path.isdir(root):
            continue
        if any(
            _GEN_DIR.fullmatch(child) and os.path.isdir(os.path.join(root, child))
            for child in os.listdir(root)
        ):
            roots.append(name)
    return roots


def vacuum_index(path: str, min_age_seconds: float = 86400.0) -> list[str]:
    """Sweep ORPHANED generation dirs of any generational index — debris
    of appends, deletes and folds that crashed between their artifact
    writes and the manifest commit, plus the generations a fold unlists
    but deliberately leaves on disk for in-flight readers, and the
    tombstones a fold retired. Readers never see orphans (only listed
    generations are read), so this is storage hygiene, not correctness.

    The age bound tells a crash from an IN-FLIGHT writer producing its
    dirs right now (``is_stale``, the rule ``sinks.vacuum_versions``
    shares): sweeping a live append's files would let it commit a
    manifest pointing at deleted data. A claim marker ages off the
    NEWEST file its generation has produced, so a writer that runs
    longer than the horizon keeps its claim while it keeps writing, and
    ``commit_append`` rejects a generation number that is already
    listed, so even a stolen claim never double-counts a generation. The
    residual window — a writer that stalls silently past the horizon,
    loses its claim, then rewrites a number someone else committed — is
    the standard snapshot-store contract: size the horizon beyond any
    writer stall. Returns the swept ``<artifact>/gen=N`` relpaths and
    claim markers."""
    man = load_manifest(path)
    # active tombstones are live artifacts; only retired ones are debris
    live = {g["gen"] for g in man["generations"]} | {
        t["gen"] for t in man.get("tombstones", [])
    }
    roots = _artifact_roots(path)
    swept: list[str] = []
    for gen in claims(path, GENCLAIM_PREFIX):
        if gen in live:
            continue
        gen_dirs = [os.path.join(path, a, f"gen={gen}") for a in roots]
        if is_stale([marker(path, GENCLAIM_PREFIX, gen), *gen_dirs], min_age_seconds):
            release(path, GENCLAIM_PREFIX, gen)
            swept.append(f"{GENCLAIM_PREFIX}{gen}")
    for artifact in roots:
        root = os.path.join(path, artifact)
        for name in os.listdir(root):
            m = _GEN_DIR.fullmatch(name)
            d = os.path.join(root, name)
            if not m or not os.path.isdir(d) or int(m.group(1)) in live:
                continue
            if not is_stale([d], min_age_seconds):
                continue
            shutil.rmtree(d, ignore_errors=True)
            swept.append(f"{artifact}/{name}")
    return sorted(swept)
