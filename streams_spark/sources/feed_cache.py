"""Deterministic staged-feed cache for derived parquet artifacts.

Shared by the feed-building streaming ops (sentinel feeds, CDC feed,
ingest feed, sequence-state stage) AND batch operators that persist
derived state (q_incremental_agg) — generic filesystem caching with no
streaming dependency, so it lives here rather than inside the streaming
module.
"""

from __future__ import annotations


def cached_feed(sf_dir: str, op: str, extra_key: str, build) -> str:
    """Deterministic staged-feed cache shared by the feed-building
    streaming ops (sentinel feeds, CDC feed, ingest feed): the feed dir
    is keyed on (sf_dir, op, extra_key, source identity — see
    cache.file_identity) under the system temp dir and built once —
    repeated gate/bench runs reuse it, and a regenerated source at the
    same path (a rewritten part file, for a directory source)
    invalidates it. `build` receives the target dir and must leave a
    parquet _SUCCESS marker."""
    import getpass
    import hashlib
    import os
    import tempfile

    from streams_spark.sources.cache import file_identity

    src_name = "documents.parquet" if op.startswith("doc") else "events.parquet"
    # "|".join keeps a single-file key byte-identical to the
    # "|{mtime_ns}|{size}" form, so feeds staged before stay valid
    ident = "|".join(map(str, file_identity(os.path.join(sf_dir, src_name))))
    key = hashlib.md5(
        f"{os.path.abspath(sf_dir)}|{op}|{extra_key}|{ident}".encode()
    ).hexdigest()[:10]
    # per-user cache root (0700): a world-shared temp path would let
    # another uid pre-create the dir (permission failures) or serve
    # foreign parquet as query input
    uid = os.getuid() if hasattr(os, "getuid") else None
    if uid is None:
        # no getuid => no way to verify a pre-existing root's owner, so
        # a username-suffixed shared path would leave the pre-created-
        # root attack open there. Use a per-PROCESS private root instead:
        # loses cross-process feed reuse on such platforms, keeps the
        # in-process cache (the _cached_feed key dedupes within a run).
        root = os.path.join(
            tempfile.gettempdir(),
            f"pystreams_feeds-{getpass.getuser()}-{os.getpid()}",
        )
        os.makedirs(root, mode=0o700, exist_ok=True)
    else:
        root = os.path.join(tempfile.gettempdir(), f"pystreams_feeds-{uid}")
        os.makedirs(root, mode=0o700, exist_ok=True)
    if uid is not None:
        # exist_ok=True accepts a PRE-EXISTING dir without checking who
        # made it — verify the root really is ours and private, else an
        # attacker who pre-created it could swap feeds under us (the
        # sticky-bit /tmp attack the per-user path exists to stop)
        rst = os.lstat(root)
        import stat as stat_mod

        if (
            rst.st_uid != uid
            or not stat_mod.S_ISDIR(rst.st_mode)
            or stat_mod.S_IMODE(rst.st_mode) & 0o077
        ):
            raise RuntimeError(
                f"feed-cache root {root} is not an owned private "
                f"directory (uid={rst.st_uid}, mode="
                f"{oct(stat_mod.S_IMODE(rst.st_mode))}); refusing to "
                f"serve query input from it"
            )
    feed = os.path.join(root, f"{op}_{key}")
    if not os.path.exists(os.path.join(feed, "_SUCCESS")):
        # build into a unique sibling, then rename into place: the
        # rename is atomic on one filesystem, so a concurrent process
        # either sees the complete feed or builds its own copy — never
        # a half-written directory. The stage name is unique PER CALL
        # (not just per pid): a stage returned by the race-loss path
        # below may still be serving a reader, so a later call in this
        # process must never rebuild over it.
        import shutil
        import uuid as uuid_mod

        stage = f"{feed}.build-{os.getpid()}-{uuid_mod.uuid4().hex[:8]}"
        build(stage)
        try:
            os.rename(stage, feed)
        except OSError:
            # feed already exists: either a concurrent builder's
            # complete copy (has _SUCCESS — keep it) or a stale/partial
            # remnant (no _SUCCESS — evict and retry with our stage)
            if os.path.exists(os.path.join(feed, "_SUCCESS")):
                shutil.rmtree(stage, ignore_errors=True)
            else:
                shutil.rmtree(feed, ignore_errors=True)
                try:
                    os.rename(stage, feed)
                except OSError:
                    # lost a second race; fall back to serving the stage
                    # (complete — we built it; uniquely named, so no
                    # later call can clobber it while it is being read)
                    if not os.path.exists(os.path.join(feed, "_SUCCESS")):
                        return stage
                    shutil.rmtree(stage, ignore_errors=True)
    return feed

