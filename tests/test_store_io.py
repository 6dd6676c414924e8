"""The store-IO seam contract (r12 verdict item 3): an in-memory fake
implementing only the five StoreIO primitives — with put_if_absent as
a CONDITIONAL PUT, the object-store shape — must be sufficient to run
every metadata flow the index tiers lean on: pointer publish/resolve,
snapshot commits with orphan reclaim, the single-writer append lock,
the delta-key sidecar, and the partition-catalog listing. Passing
proves the local-FS syscalls are an implementation detail, not a
hidden dependency: an object-store deployment provides one class.
"""

from __future__ import annotations

import threading

import pytest

from tijdloze_musicbrainz_spark.sources.store_io import (
    get_store_io,
    set_store_io,
)


class FakeConditionalPutStore:
    """Object-store-shaped in-memory StoreIO: a flat key space (no
    directories), atomic single-key puts, a conditional put guarded by
    one lock (the If-None-Match analog), prefix listing."""

    def __init__(self):
        self.objs: dict[str, str] = {}
        self._mutex = threading.Lock()
        self.conditional_puts = 0

    def put_atomic(self, path: str, text: str) -> None:
        with self._mutex:
            self.objs[path] = text

    def put_if_absent(self, path: str, text: str) -> bool:
        with self._mutex:
            self.conditional_puts += 1
            if path in self.objs:
                return False
            self.objs[path] = text
            return True

    def get_text(self, path: str) -> str | None:
        with self._mutex:
            return self.objs.get(path)

    def list_names(self, dir_path: str) -> list[str]:
        prefix = dir_path.rstrip("/") + "/"
        with self._mutex:
            return sorted(
                {
                    p[len(prefix) :].split("/", 1)[0]
                    for p in self.objs
                    if p.startswith(prefix)
                }
            )

    def delete(self, path: str) -> bool:
        with self._mutex:
            return self.objs.pop(path, None) is not None

    # the If-Match pair (r14): object stores give these natively
    # (S3 conditional DELETE/PUT, GCS ifGenerationMatch); the fake's
    # one-mutex implementation is the semantic contract call sites
    # may rely on — compare and mutate in one atomic step
    def delete_if_match(self, path: str, expected: str) -> bool:
        with self._mutex:
            if self.objs.get(path) != expected:
                return False
            del self.objs[path]
            return True

    def replace_if_match(self, path: str, expected: str, new: str) -> bool:
        with self._mutex:
            if self.objs.get(path) != expected:
                return False
            self.objs[path] = new
            return True

    def delete_prefix(self, dir_path: str) -> None:
        prefix = dir_path.rstrip("/") + "/"
        with self._mutex:
            for k in [p for p in self.objs if p.startswith(prefix)]:
                del self.objs[k]


@pytest.fixture()
def fake_io():
    prev = get_store_io()
    fake = FakeConditionalPutStore()
    set_store_io(fake)
    try:
        yield fake
    finally:
        set_store_io(prev)


def test_pointer_publish_and_resolve_through_fake(fake_io):
    from tijdloze_musicbrainz_spark.plans.lifecycle import (
        current_store,
        publish_store,
    )

    root = "/fake/index"
    assert current_store(root, "default_store") == "default_store"
    publish_store(root, "store_v1")
    publish_store(root, "store_v2")
    assert current_store(root, "default_store") == "store_v2"
    # nothing touched the real filesystem: the fake holds the pointer
    assert fake_io.objs == {"/fake/index/_CURRENT": "store_v2"}


def test_snapshot_commit_chain_and_orphan_reclaim_through_fake(fake_io):
    from tijdloze_musicbrainz_spark.plans.lifecycle import (
        commit_snapshot,
        current_snapshot,
        current_snapshot_version,
        manifest,
    )

    root = "/fake/index"
    assert current_snapshot(root) is None
    assert commit_snapshot(root, manifest(runs=["b0"], n_indexed=10)) == 0
    assert commit_snapshot(
        root, manifest(runs=["b0", "g1"], n_indexed=12)
    ) == 1
    assert current_snapshot_version(root) == 1
    assert current_snapshot(root)["n_indexed"] == 12
    # manifests are conditional puts (the commit-race guard)
    assert fake_io.conditional_puts >= 2
    # orphan: a dead writer's v2 manifest without the pointer flip.
    # Reclaim requires the tier lease (r15: lease-less callers lose
    # with SnapshotConflict instead of guessing) — acquiring it here
    # also drives the lock + conditional-delete flow through the fake.
    from tijdloze_musicbrainz_spark.plans.lifecycle import (
        SnapshotConflict,
    )
    from tijdloze_musicbrainz_spark.sources.bucketing import (
        exclusive_append,
    )

    fake_io.put_if_absent(f"{root}/_snapshots/v2.json", '{"orphan": true}')
    assert current_snapshot_version(root) == 1
    with pytest.raises(SnapshotConflict):
        commit_snapshot(root, manifest(runs=["c"], n_indexed=12))
    with exclusive_append(root, owner="recovery") as lease:
        assert commit_snapshot(
            root, manifest(runs=["c"], n_indexed=12), lease=lease
        ) == 2
    assert current_snapshot(root)["runs"] == ["c"]


def test_append_lock_mutual_exclusion_through_fake(fake_io):
    from tijdloze_musicbrainz_spark.sources.bucketing import (
        ConcurrentAppendError,
        exclusive_append,
    )

    loc = "/fake/index"
    with exclusive_append(loc, owner="w1"):
        # the lock is a conditional put in the fake's key space
        assert f"{loc}/_APPEND_LOCK" in fake_io.objs
        with pytest.raises(ConcurrentAppendError):
            with exclusive_append(loc, owner="w2"):
                pass
    assert f"{loc}/_APPEND_LOCK" not in fake_io.objs
    # released -> next writer acquires cleanly
    with exclusive_append(loc, owner="w3"):
        assert "w3" in fake_io.objs[f"{loc}/_APPEND_LOCK"]


def test_sidecar_and_partition_listing_through_fake(fake_io, spark):
    from tijdloze_musicbrainz_spark.plans.lifecycle import (
        list_partition_ids,
        read_delta_key_manifest,
        write_delta_key_manifest,
    )

    staged = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 10)], "doc_id bigint, band_key bigint"
    )
    write_delta_key_manifest(staged, "band_key", "/fake/stage")
    assert read_delta_key_manifest("/fake/stage", "band_key") == [10, 20]
    assert read_delta_key_manifest("/fake/stage", "other_col") is None

    for key in ("part=3/f.parquet", "part=7/f.parquet", "_SUCCESS"):
        fake_io.put_atomic(f"/fake/store/{key}", "x")
    assert list_partition_ids("/fake/store") == {3, 7}
