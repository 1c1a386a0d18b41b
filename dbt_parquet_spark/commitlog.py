"""Generation-numbered OCC commit log — the commit protocol shared by
versioned tables (versioned.py) and the manifest ANN index
(operators/index_manifest.py).

Layout under a table or index root:

- ``_commits/NNNNNNNNNNNN.json``: one FULL manifest snapshot per
  generation, written put-if-absent (``CatalogFS.put_json_if_absent``:
  local ``os.link`` create-exclusive / object-store conditional PUT via
  the per-scheme hook, ``fs.register_conditional_put``). N writers racing
  from the same loaded generation target the same file name; exactly one
  wins, every loser commits nothing. The highest generation in the log is
  authoritative.
- a cache file (``_versions.json`` for tables, ``_manifest.json`` for
  indexes): the latest manifest plus its generation, refreshed with
  ``CatalogFS.put_json_atomic`` after every winning commit. It doubles as
  the checkpoint pointer (the Delta ``_last_checkpoint`` discipline), so a
  hot resolve is one small GET plus two existence probes — no LIST, the
  expensive op on object stores. Losing the refresh is harmless: readers
  probe FORWARD from the pointer for commits whose refresh was lost, and
  fall back to LISTing the log only when the pointer is missing or older
  than the pruned tail.

The two callers differ only in the cache file name, the manifest key that
carries the generation (``gen`` / ``generation``), and what an empty root
means (an empty table / no index); those stay with the callers.
"""

from __future__ import annotations

COMMITS_DIR = "_commits"
COMMIT_GRACE = 3  # vacuums keep this many trailing commit files


def commit_path(io, root: str, gen: int) -> str:
    return io.join(root, COMMITS_DIR, f"{gen:012d}.json")


def _generations(io, root: str) -> list[int]:
    return sorted(
        int(e[:-5]) for e in io.listdir(io.join(root, COMMITS_DIR))
        if e.endswith(".json") and e[:-5].isdigit()
    )


def _read(io, root: str, gen_key: str, gen: int) -> dict:
    m = io.get_json(commit_path(io, root, gen))
    m[gen_key] = gen
    return m


def load(io, root: str, cache_name: str, gen_key: str) -> dict | None:
    """The committed manifest with its generation under ``gen_key``:
    the cached pointer when it is still the newest commit, else the
    newest commit found by probing forward from it, else (pointer missing
    or pruned away) the max generation of a LIST of the log. A root with
    a cache but no log (adopted before the OCC log) returns the cache
    as-is; a root with neither returns ``None``."""
    cache_path = io.join(root, cache_name)
    cached = io.get_json(cache_path) if io.exists(cache_path) else None
    if cached is not None and int(cached.get(gen_key, 0)) >= 1:
        g = int(cached[gen_key])
        if io.exists(commit_path(io, root, g)):
            ahead = g
            while io.exists(commit_path(io, root, ahead + 1)):
                ahead += 1
            if ahead == g:
                return cached  # the cache IS the max-gen snapshot
            return _read(io, root, gen_key, ahead)
        # pointer older than the pruned log tail: authoritative LIST below
    if io.isdir(io.join(root, COMMITS_DIR)):
        gens = _generations(io, root)
        if gens:
            return _read(io, root, gen_key, gens[-1])
    return cached


def commit(io, root: str, cache_name: str, gen: int, manifest: dict) -> bool:
    """Commit ``manifest`` as generation ``gen``. Returns False, having
    written nothing, when another writer already committed that
    generation; on a win, refreshes the cache and returns True."""
    io.makedirs(io.join(root, COMMITS_DIR))
    if not io.put_json_if_absent(commit_path(io, root, gen), manifest):
        return False
    io.put_json_atomic(io.join(root, cache_name), manifest)
    return True


def prune(io, root: str, young=None, dry_run: bool = False) -> list[int]:
    """Delete superseded commit files, keeping a COMMIT_GRACE tail so a
    reader between its log LIST and its max-gen read never has the file
    deleted under it (it would have to be GRACE commits stale). Every
    commit file is a full snapshot, so older ones are pure history.
    ``young(path)`` True keeps that file; ``dry_run`` deletes nothing.
    Returns the pruned (or, dry, prunable) generations."""
    if not io.isdir(io.join(root, COMMITS_DIR)):
        return []
    pruned = []
    for g in _generations(io, root)[:-COMMIT_GRACE]:
        path = commit_path(io, root, g)
        if young is not None and young(path):
            continue
        if not dry_run:
            io.remove_any(path)
        pruned.append(g)
    return pruned
