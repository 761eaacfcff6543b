"""The DataFrame memo (streams_spark/sources/cache.py) never serves data
from a source that changed since the entry was built."""

from __future__ import annotations

import hashlib
import os
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq


def _write_docs(path: str, ids: range) -> None:
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(list(ids), pa.int64()),
                "text": [f"doc {i} says hello world number {i}" for i in ids],
            }
        ),
        path,
    )


def test_single_file_rewrite_rebuilds_cached_tables(spark, tmp_path):
    """Rewriting documents.parquet in place makes identity_documents and
    shingle_table return the new content without any clear(), and the
    superseded cached DataFrames are unpersisted."""
    from streams_spark.functions.text_funcs import identity_documents
    from streams_spark.operators.dedup import shingle_table

    sf_dir = str(tmp_path)
    docs = os.path.join(sf_dir, "documents.parquet")
    _write_docs(docs, range(1, 4))
    old_ids = identity_documents(spark, sf_dir)
    old_sh = shingle_table(spark, sf_dir)
    assert sorted(r.doc_id for r in old_ids.collect()) == [1, 2, 3]
    assert old_sh.count() == 3
    assert old_ids.is_cached and old_sh.is_cached

    _write_docs(docs, range(7, 11))
    new_ids = identity_documents(spark, sf_dir)
    new_sh = shingle_table(spark, sf_dir)
    assert sorted(r.doc_id for r in new_ids.collect()) == [7, 8, 9, 10]
    assert sorted(r.doc_id for r in new_sh.collect()) == [7, 8, 9, 10]
    assert not old_ids.is_cached and not old_sh.is_cached
    assert new_ids.is_cached and new_sh.is_cached
    # one entry per (kind, key): the superseded ones are gone
    assert identity_documents(spark, sf_dir) is new_ids


def test_directory_part_rewrite_rebuilds_read(spark, tmp_path):
    """A part file rewritten in place inside a parquet directory changes
    neither the directory's mtime nor its listing; the memoized read
    must still see the new rows."""
    from streams_spark.sources import cache
    from streams_spark.sources.tables import read_parquet_memo

    table = tmp_path / "t.parquet"
    table.mkdir()
    part = str(table / "part-00000.parquet")
    pq.write_table(pa.table({"x": list(range(5))}), part)
    assert read_parquet_memo(spark, str(table)).count() == 5
    entries = cache.stats()["parquet"]["entries"]
    dir_mtime = os.stat(table).st_mtime_ns

    pq.write_table(pa.table({"x": list(range(500))}), part)
    assert os.stat(table).st_mtime_ns == dir_mtime
    assert read_parquet_memo(spark, str(table)).count() == 500
    assert cache.stats()["parquet"]["entries"] == entries


def test_bypass_builds_afresh_and_keeps_entries(spark, sf_dir):
    from streams_spark.sources import cache
    from streams_spark.sources.tables import load_table

    held = load_table(spark, sf_dir, "region")
    before = cache.stats()["parquet"]
    with cache.bypass():
        a = load_table(spark, sf_dir, "region")
        b = load_table(spark, sf_dir, "region")
    after = cache.stats()["parquet"]
    assert after["misses"] - before["misses"] == 2
    assert after["hits"] == before["hits"]
    assert after["entries"] == before["entries"]
    assert a is not held and b is not held and a is not b
    assert load_table(spark, sf_dir, "region") is held


def test_feed_key_tracks_directory_sources(tmp_path, monkeypatch):
    """A single-file source keeps the historical feed key, so feeds staged
    before stay valid; a directory source gets a new feed when a part
    file is rewritten in place."""
    from streams_spark.sources.feed_cache import cached_feed

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path / "tmp"))
    builds = []

    def build(stage: str) -> None:
        os.makedirs(stage)
        open(os.path.join(stage, "_SUCCESS"), "w").close()
        builds.append(stage)

    single = tmp_path / "single"
    single.mkdir()
    src = single / "events.parquet"
    pq.write_table(pa.table({"x": [1, 2]}), str(src))
    st = os.stat(src)
    key = hashlib.md5(
        f"{os.path.abspath(single)}|evtest|k"
        f"|{st.st_mtime_ns}|{st.st_size}".encode()
    ).hexdigest()[:10]
    feed = cached_feed(str(single), "evtest", "k", build)
    assert os.path.basename(feed) == f"evtest_{key}"

    multi = tmp_path / "multi"
    (multi / "events.parquet").mkdir(parents=True)
    part = str(multi / "events.parquet" / "part-00000.parquet")
    pq.write_table(pa.table({"x": [1, 2]}), part)
    first = cached_feed(str(multi), "evtest", "k", build)
    assert cached_feed(str(multi), "evtest", "k", build) == first
    pq.write_table(pa.table({"x": [1, 2, 3]}), part)
    assert cached_feed(str(multi), "evtest", "k", build) != first
    assert len(builds) == 3


def test_concurrent_misses_leave_one_cached_frame(tmp_path):
    """Stream batches can call the memo from other threads. Concurrent
    misses of one key may each build, but no hit or miss is lost and
    only the frame the memo holds stays cached."""
    import sys
    import threading
    import time
    import types

    from streams_spark.sources import cache

    class Frame:
        is_cached = True

        def unpersist(self) -> None:
            self.is_cached = False

    built = []

    def build() -> Frame:
        time.sleep(0.001)  # let the other threads miss too
        built.append(Frame())
        return built[-1]

    src = tmp_path / "s.parquet"
    src.write_bytes(b"x")
    spark = types.SimpleNamespace(
        sparkContext=types.SimpleNamespace(applicationId="stress")
    )
    n_threads, n_calls = 16, 50
    held = []
    go = threading.Event()

    def work() -> None:
        go.wait(timeout=60)
        for _ in range(n_calls):
            held.append(cache.memo(spark, "stress", "k", [str(src)], build))

    before = cache.stats().get("stress", {"hits": 0, "misses": 0})
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work) for _ in range(n_threads)]
        for t in threads:
            t.start()
        go.set()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    after = cache.stats()["stress"]
    calls = sum(after[k] - before[k] for k in ("hits", "misses"))
    assert calls == len(held) == n_threads * n_calls
    assert after["entries"] == 1
    assert len(built) > 1
    current = cache.memo(spark, "stress", "k", [str(src)], build)
    assert [f for f in built if f.is_cached] == [current]
