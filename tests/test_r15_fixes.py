"""Round-15 fixes, each pinned:

1. Fence tokens are RESERVED via CAS on ``_FENCE`` before the lock
   attempt (r14 ADVICE): the old scheme read the floor pre-acquisition
   and persisted it only after winning, so a fresh acquirer landing in
   a recoverer's delete→re-create window could mint a token <= the
   dead holder's. Now every token comes from a strictly-increasing
   swap, and a takeover first CASes the counter past the observed
   holder's token — numeric fence ordering is a real invariant.
2. Lease-less orphan reclaim removed from commit_snapshot (r14
   ADVICE): without the tier lease, a committer that loses the
   conditional put cannot distinguish a crashed predecessor's debris
   from a live competitor mid-publish — it now loses explicitly
   (SnapshotConflict) instead of overwriting the winner's manifest.
3. vacuum_unreferenced validates ``keep_snapshots >= 1`` (r14 ADVICE):
   0 would delete the currently-published manifest and stores while
   ``_CURRENT`` still points at them — a bricked index.
4. Lease.release retries through transient local flock contention
   (r14 ADVICE): a clean release racing another process's CAS probe
   must not strand a valid lock nobody holds for the full lease;
   a real takeover (payload changed) still leaves the lock alone.
5. Commit safety margin (r14 verdict item 8): commit_snapshot refuses
   to BEGIN the two-step publish on a nearly-expired lease — it
   renews first (Lease.ensure_margin), making expiry-based takeover
   impossible for the whole manifest-write → pointer-flip window; a
   renewal that fails IS the fence, firing before any state changed.
"""

from __future__ import annotations

import json
import os
import subprocess

import pytest

from tijdloze_musicbrainz_spark.plans.lifecycle import (
    SnapshotConflict,
    commit_snapshot,
    current_snapshot,
    manifest,
    vacuum_unreferenced,
)
from tijdloze_musicbrainz_spark.sources import bucketing as bk
from tijdloze_musicbrainz_spark.sources.bucketing import (
    ConcurrentAppendError,
    FencedOut,
    exclusive_append,
    lock_payload,
)
from tijdloze_musicbrainz_spark.sources.store_io import get_store_io


def _dead_pid() -> int:
    proc = subprocess.Popen(["true"])
    proc.wait()
    return proc.pid


@pytest.fixture()
def fake_clock(monkeypatch):
    state = {"t": 1000.0}
    monkeypatch.setattr(bk, "_now", lambda: state["t"])
    return state


# ── 1. fence tokens reserved via CAS ─────────────────────────────────


def test_fresh_acquirer_in_takeover_window_outranks_dead_holder(
    tmp_path, fake_clock, monkeypatch
):
    """The exact r14 ADVICE interleave: recoverer R observes dead
    debris carrying fence=9 (written by a holder that never reserved
    through _FENCE — the file is absent); R's conditional delete
    lands, and a FRESH acquirer F wins put_if_absent before R's
    re-create. Pre-fix F read floor 0 and minted fence=1 <= 9; now R
    CASes the counter past the observed token BEFORE its delete, so
    F's reservation is strictly greater than the dead holder's."""
    loc = str(tmp_path)
    lock = os.path.join(loc, "_APPEND_LOCK")
    io = get_store_io()
    io.put_atomic(
        lock, lock_payload(_dead_pid(), "legacy_dead", fence=9,
                           expires_at=0.0)
    )
    fresh = {}
    real_delete = io.delete_if_match

    def fresh_wins_the_window(path, expected):
        ok = real_delete(path, expected)
        if ok and path == lock and "lease" not in fresh:
            monkeypatch.undo()
            cm = exclusive_append(loc, owner="fresh_f", lease_s=60.0)
            fresh["cm"], fresh["lease"] = cm, cm.__enter__()
        return ok

    monkeypatch.setattr(io, "delete_if_match", fresh_wins_the_window)
    with pytest.raises(ConcurrentAppendError):
        with exclusive_append(loc, owner="recoverer_r"):
            pass
    # F's token outranks the dead holder's — the overstated invariant
    # is now real, not a payload-compare artifact
    assert fresh["lease"].fence > 9, fresh["lease"].fence
    # and F's lock survived R's failed re-create
    assert io.get_text(lock) == fresh["lease"].payload
    fresh["cm"].__exit__(None, None, None)


def test_reserved_fences_strictly_increase_across_acquirers(
    tmp_path, fake_clock
):
    loc = str(tmp_path)
    seen = []
    for owner in ("w1", "w2", "w3"):
        with exclusive_append(loc, owner=owner) as lease:
            seen.append(lease.fence)
    assert seen == sorted(set(seen)), seen
    # the persisted high-water equals the last reservation
    assert int(get_store_io().get_text(
        os.path.join(loc, "_FENCE")).strip()) == seen[-1]


# ── 2. lease-less orphan reclaim now conflicts ───────────────────────


def test_leaseless_commit_never_reclaims_a_pending_manifest(tmp_path):
    """Writer B wrote v1.json but has not flipped the pointer yet; a
    lease-less committer A loses the conditional put and — pre-fix —
    re-read the still-behind pointer, concluded 'orphan', and
    overwrote B's manifest (silent lost commit). Now A raises
    SnapshotConflict and B's manifest is untouched."""
    root = str(tmp_path / "idx")
    commit_snapshot(root, {"state": "base"})
    io = get_store_io()
    b_manifest = json.dumps({"state": "b_mid_publish"}, sort_keys=True)
    assert io.put_if_absent(f"{root}/_snapshots/v1.json", b_manifest)
    with pytest.raises(SnapshotConflict):
        commit_snapshot(root, {"state": "a_lost"})
    assert io.get_text(f"{root}/_snapshots/v1.json") == b_manifest
    assert current_snapshot(root) == {"state": "base"}


# ── 3. vacuum retention validation ───────────────────────────────────


def test_vacuum_rejects_keep_snapshots_below_one(tmp_path):
    root = str(tmp_path / "idx")
    commit_snapshot(root, manifest(runs=["g0"]))
    io = get_store_io()
    io.put_atomic(f"{root}/g0/part-0", "live store")
    for bad in (0, -1):
        with pytest.raises(ValueError, match="keep_snapshots"):
            vacuum_unreferenced(root, keep_snapshots=bad)
    # nothing was deleted — the published store and manifest survive
    assert os.path.exists(f"{root}/g0/part-0")
    assert current_snapshot(root) == manifest(runs=["g0"])


# ── 4. release retries through transient contention ──────────────────


def test_release_retries_past_flock_contention(tmp_path, monkeypatch):
    """A clean release whose conditional delete loses to ANOTHER
    process's transient CAS probe (LocalStoreIO returns False on flock
    contention with the payload still ours) must retry, not strand the
    valid lock for the full lease."""
    loc = str(tmp_path)
    io = get_store_io()
    real_delete = io.delete_if_match
    calls = {"n": 0}

    def contended_twice(path, expected):
        calls["n"] += 1
        if calls["n"] <= 2:
            return False  # flock lost: payload untouched, caller loses
        return real_delete(path, expected)

    monkeypatch.setattr(io, "delete_if_match", contended_twice)
    with exclusive_append(loc, owner="releaser"):
        pass
    monkeypatch.undo()
    assert calls["n"] == 3
    assert io.get_text(os.path.join(loc, "_APPEND_LOCK")) is None
    # ...and a fresh writer acquires immediately, no lease wait
    with exclusive_append(loc, owner="next"):
        pass


def test_release_still_leaves_lock_after_real_takeover(
    tmp_path, fake_clock, monkeypatch
):
    """The fenced-out outcome is unchanged: when the payload CHANGED
    (a real takeover), release must leave the new holder's lock alone
    — and must not spin retrying."""
    loc = str(tmp_path)
    io = get_store_io()
    a = exclusive_append(loc, owner="a", lease_s=60.0)
    lease_a = a.__enter__()
    fake_clock["t"] += 61.0
    with exclusive_append(loc, owner="b", lease_s=60.0) as lease_b:
        calls = {"n": 0}
        real_delete = io.delete_if_match

        def counting(path, expected):
            calls["n"] += 1
            return real_delete(path, expected)

        monkeypatch.setattr(io, "delete_if_match", counting)
        a.__exit__(None, None, None)  # zombie A's release
        monkeypatch.undo()
        assert calls["n"] == 1  # one observe-and-stop, no retry spin
        assert io.get_text(lease_a.path) == lease_b.payload


# ── 5. commit safety margin ──────────────────────────────────────────


def test_commit_renews_first_so_takeover_cannot_straddle_the_publish(
    tmp_path, fake_clock, monkeypatch
):
    """The straddle gap (r14 verdict item 8): holder A begins the
    commit with 0.5 s of lease left, passes the fence re-check, and is
    descheduled BEFORE the pointer flip; clock crosses expiry inside
    that gap and recoverer B attempts takeover. With the margin check,
    A's commit renewed first — the lease is provably unexpired for the
    whole two-step window, so B's takeover FAILS and A's publish is
    safe. Remove Lease.ensure_margin from commit_snapshot and this
    test fails (B acquires inside the gap)."""
    root = str(tmp_path / "idx")
    commit_snapshot(root, {"state": "base"})
    io = get_store_io()
    real_put = io.put_atomic

    with exclusive_append(root, owner="a", lease_s=60.0) as lease_a:
        fake_clock["t"] += 59.5  # 0.5 s of runway left

        def descheduled_then_flip(path, text):
            if path.endswith("_CURRENT"):
                # the zombie gap: between the fence re-check and the
                # pointer flip, 25 s pass and B probes the lock
                fake_clock["t"] += 25.0
                with pytest.raises(ConcurrentAppendError):
                    with exclusive_append(root, owner="b", lease_s=60.0):
                        pass
            real_put(path, text)

        monkeypatch.setattr(io, "put_atomic", descheduled_then_flip)
        commit_snapshot(root, {"state": "a_safe"}, lease=lease_a)
        monkeypatch.undo()
    assert current_snapshot(root) == {"state": "a_safe"}


def test_commit_on_expired_lease_fences_before_touching_the_manifest(
    tmp_path, fake_clock
):
    """When the margin renewal is impossible (the lease was already
    taken over), the commit raises FencedOut BEFORE writing its
    manifest — no debris, no overwrite."""
    root = str(tmp_path / "idx")
    commit_snapshot(root, {"state": "base"})
    a = exclusive_append(root, owner="a", lease_s=60.0)
    lease_a = a.__enter__()
    fake_clock["t"] += 61.0
    with exclusive_append(root, owner="b", lease_s=60.0) as lease_b:
        commit_snapshot(root, {"state": "b"}, lease=lease_b)
        with pytest.raises(FencedOut):
            commit_snapshot(root, {"state": "a_zombie"}, lease=lease_a)
        # the zombie never wrote its v2 manifest
        assert get_store_io().get_text(
            f"{root}/_snapshots/v2.json") is None
        a.__exit__(None, None, None)
    assert current_snapshot(root) == {"state": "b"}


def test_ensure_margin_noop_when_runway_is_ample(tmp_path, fake_clock):
    """A healthy commit far from expiry must NOT renew (no extra CAS
    per commit in the common case)."""
    root = str(tmp_path / "idx")
    commit_snapshot(root, {"state": "base"})
    with exclusive_append(root, owner="a", lease_s=600.0) as lease:
        before = lease.payload
        commit_snapshot(root, {"state": "next"}, lease=lease)
        assert lease.payload == before  # no renewal happened


# ── 6. sweep corpus-slice override (engine-symmetric) ────────────────


def test_dedup_doc_slice_defaults_to_full_corpus():
    """Unset, the modulus is 1: the driver gate / bench / curves see
    the canonical full-corpus queries (the override exists only for
    the sf0.1 sweep harness)."""
    from tijdloze_musicbrainz_spark.plans import dedup

    assert dedup.DEDUP_DOC_MOD == 1
    # and the oracle f-strings embed the same modulus the Spark plan
    # filters by — symmetry by construction
    from tijdloze_musicbrainz_spark.plans import REGISTRY

    for name in ("dedup_containment_join", "dedup_jaccard_prefix_filter"):
        assert f"doc_id % {dedup.DEDUP_DOC_MOD} = 0" in REGISTRY[name].oracle


def test_slice_env_rejects_nonpositive(monkeypatch):
    from tijdloze_musicbrainz_spark.plans.dedup import _slice_env

    monkeypatch.setenv("SPARK_GRAFT_DEDUP_DOC_MOD", "0")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        _slice_env()
    monkeypatch.setenv("SPARK_GRAFT_DEDUP_DOC_MOD", "3")
    assert _slice_env() == 3
