"""Versioned publish: the on-disk protocol of the keyed sinks in
foreach.py. An epoch's output becomes visible atomically, and a replay
is idempotent — the epoch-aligned commit of State Management in Apache
Flink (VLDB 2017), and the contract `run_fanout` states for its sinks.

Every write goes to a fresh directory and is published by one atomic
filesystem step:

- keyed overwrite: a version dir ``v{epoch}_{uuid}`` holding one
  ``_bucket={b}`` dir per rewritten bucket; each bucket's symlink flips
  to its new dir (tmp symlink + os.replace, atomic on POSIX);
- keyed append: a staging dir ``_staging_{label}_{uuid}``, renamed to
  ``epochs/e{epoch:012d}_{tag}{uuid}`` (os.rename, atomic on POSIX).

The epoch in either name is metadata the sinks' lineage guards and the
epoch ledger read back (`epoch_of`), so it costs no extra write. Small
files (table meta, pending markers, the high watermark) are replaced
tmp + os.replace.

The one multi-step maintenance publish, the append channel's fold, is
bracketed by a pending marker: `write_json` the marker (the publish
point), take the publish step, then `recover`, which runs the remaining
steps and unlinks the marker. A constructor that finds a marker calls
the same `recover`, so the live path and crash recovery are one code
path. A marker is validated before anything acts on it: its shape, its
bucket count, and that every path it names resolves strictly inside the
table, so a hand-repaired marker can never point recovery's rmtree
elsewhere.

What is written — merge, fold, ledger, probes, reads — stays with the
sinks.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from typing import Callable, Iterable

from pyspark.sql import DataFrame

from flink_tutorial_spark import plan_capture

#: required fields of the fold's pending marker
FOLD_MARKER = {"final": str, "superseded": list, "n_buckets": int}


def _uid() -> str:
    return uuid.uuid4().hex[:8]


def version_dir(root: str, epoch: int) -> str:
    """A fresh overwrite-channel version dir. Unique per write: an epoch
    replay must never overwrite the dir its own input plan lazily reads."""
    return os.path.join(root, f"v{epoch}_{_uid()}")


def epoch_dir(root: str, epoch: int, tag: str = "") -> str:
    """A fresh append-channel epoch dir (`tag` marks a fold's output)."""
    return os.path.join(root, "epochs", f"e{epoch:012d}_{tag}{_uid()}")


def staging_dir(root: str, label: int | str) -> str:
    return os.path.join(root, f"_staging_{label}_{_uid()}")


def epoch_of(path: str) -> int:
    """Epoch id encoded in a version or epoch dir name; -1 if
    unparsable."""
    try:
        return int(os.path.basename(path).split("_", 1)[0][1:])
    except ValueError:
        return -1


def bucket_dirs(path: str) -> dict[int, str]:
    """{bucket id: dir} of the `_bucket=` partitions under `path`."""
    return {
        int(s.split("=", 1)[1]): os.path.join(path, s)
        for s in os.listdir(path)
        if s.startswith("_bucket=")
    }


def write_bucketed(df: DataFrame, path: str, label: str) -> None:
    """The one Spark job of a publish: `df` (carrying `_bucket`) written
    as one `_bucket=` dir per bucket it holds."""
    plan_capture.capture_df(df, label)
    df.write.mode("overwrite").partitionBy("_bucket").parquet(path)


def write_atomic(path: str, text: str) -> None:
    """Replace `path` with `text` all-or-nothing. A failed write leaves
    the previous file and no stray .tmp."""
    tmp = path + ".tmp"
    try:
        with open(tmp, "w") as f:
            f.write(text)
        os.replace(tmp, path)
    except Exception:
        try:
            os.unlink(tmp)
        except OSError:
            pass
        raise


def write_json(path: str, obj) -> None:
    write_atomic(path, json.dumps(obj))


def flip_all(version: str, link: Callable[[int], str]) -> None:
    """Atomically repoint the symlink `link(b)` of each bucket written
    in `version` at its new dir. A leftover tmp link from a crashed flip
    is replaced."""
    for b, target in bucket_dirs(version).items():
        dst = link(b)
        tmp = dst + ".tmp"
        if os.path.lexists(tmp):
            os.unlink(tmp)
        os.symlink(target, tmp)
        os.replace(tmp, dst)


def publish_dir(staging: str, final: str) -> bool:
    """Publish a staged bucketed write by renaming it to `final`. A
    write with no `_bucket=` dir is dropped instead (a data-less dir
    would break the readers' schema inference); returns whether it
    published."""
    if not bucket_dirs(staging):
        shutil.rmtree(staging, ignore_errors=True)
        return False
    os.rename(staging, final)
    return True


def sweep_staging(root: str) -> None:
    """Remove staged writes that never published. Sinks run one at a
    time on the driver, so no attempt of this sink is in flight."""
    for entry in os.listdir(root):
        if entry.startswith("_staging_"):
            shutil.rmtree(os.path.join(root, entry), ignore_errors=True)


def prune(root: str, keep: Iterable[str], buckets: Iterable[int]) -> None:
    """Remove, from every version dir under `root`, the `_bucket=` dirs
    of `buckets` that do not resolve to a path in `keep`, then the
    version dirs left without buckets. An epoch keeps each dirty
    bucket's live and previous (N-1) dirs, so a lazy read() stays valid
    one more epoch. Paths compare by realpath, so a root spelled
    differently from the writer's never prunes what it keeps."""
    keep = {os.path.realpath(p) for p in keep}
    buckets = set(buckets)
    for entry in os.listdir(root):
        vdir = os.path.join(root, entry)
        if not (entry.startswith("v") and os.path.isdir(vdir)):
            continue
        for b, full in bucket_dirs(vdir).items():
            if b in buckets and os.path.realpath(full) not in keep:
                shutil.rmtree(full, ignore_errors=True)
        if not bucket_dirs(vdir):
            shutil.rmtree(vdir, ignore_errors=True)


def _contained(root: str, p: str) -> bool:
    """True iff `p` resolves STRICTLY inside `root` — neither the root
    itself nor anywhere outside it. The guard that keeps recovery's
    rmtree from ever leaving the table, whatever a repaired marker says."""
    rroot = os.path.realpath(root)
    rp = os.path.realpath(p)
    return rp != rroot and os.path.commonpath([rroot, rp]) == rroot


def _load_marker(
    path: str, required: dict[str, type], root: str | None = None
) -> dict:
    """Read a json marker or meta file and validate its SHAPE, not just
    its parsability: a marker 'repaired' to valid json of the wrong
    shape must not slip past the unreadable-marker guards — worst case a
    string `superseded` iterating per-character into shutil.rmtree("/").
    Any structural problem raises ValueError so callers treat unparsable
    and wrong-shape files uniformly.

    Semantic rules: int fields are bucket counts — bools (which
    isinstance as int) and counts < 1 are rejected here rather than
    surfacing later as a confusing count-mismatch; with `root`, every
    str field and list entry is a path that must resolve strictly inside
    it — shape-valid markers naming "/", the table root, or any outside
    path (the rmtree targets of recovery) fail as unreadable."""
    with open(path) as f:
        pending = json.load(f)
    if not isinstance(pending, dict):
        raise ValueError(f"not a json object: {pending!r}")
    for k, t in required.items():
        v = pending.get(k)
        if k not in pending or not isinstance(v, t) or isinstance(v, bool):
            raise ValueError(f"field {k!r} missing or not a {t.__name__}: {v!r}")
        if t is int and v < 1:
            raise ValueError(f"field {k!r} must be >= 1: {v!r}")
        if t is list and not all(isinstance(x, str) for x in v):
            raise ValueError(f"field {k!r} has non-string entries")
        if root is not None and t in (str, list):
            for p in v if t is list else [v]:
                if not _contained(root, p):
                    raise ValueError(
                        f"field {k!r} path {p!r} does not resolve "
                        f"strictly inside the table root {root!r}"
                    )
    return pending


def read_meta(path: str) -> int | None:
    """Bucket count recorded in a table meta file; None if there is
    none (a pre-meta table). A meta that is not an object with an
    integer `n_buckets` >= 1 raises: a bool would otherwise pass as 1."""
    if not os.path.exists(path):
        return None
    try:
        return _load_marker(path, {"n_buckets": int})["n_buckets"]
    except (OSError, ValueError) as e:
        raise ValueError(
            f"table meta {path} is unreadable ({e!r}): it must be a json "
            'object {"n_buckets": N} with N the table\'s bucket count, an '
            "integer >= 1 — repair it before constructing the sink"
        ) from e


def recover(
    marker: str, root: str, n_buckets: int, complete: Callable[[dict], None]
) -> None:
    """Finish the fold bracketed by `marker`, if one is pending: run
    `complete(pending)`, then unlink the marker. If the marker's `final`
    dir does not exist, the publish step never ran, so the marker and
    any staged copy are discarded instead. A published fold under
    another bucket count than `n_buckets` refuses. An unreadable or
    wrong-shape marker means the publish state is unknown — neither
    completing nor discarding is mechanically safe — and raises the
    repair error."""
    if not os.path.exists(marker):
        return
    try:
        p = _load_marker(marker, FOLD_MARKER, root=root)
    except (OSError, ValueError) as e:
        raise RuntimeError(
            f"interrupted fold at {root}: pending marker {marker} is "
            f"unreadable ({e!r}) — inspect the table's epoch dirs, then "
            "repair or remove the marker before reconstructing the sink"
        ) from e
    if not os.path.isdir(p["final"]):
        sweep_staging(root)
        os.unlink(marker)
        return
    if p["n_buckets"] != n_buckets:
        raise ValueError(
            f"interrupted fold at {root} was publishing under "
            f"{p['n_buckets']} buckets; construct the sink with that "
            f"count (got n_buckets={n_buckets}) so recovery completes "
            "under the table's real placement"
        )
    complete(p)
    os.unlink(marker)
