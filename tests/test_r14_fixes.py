"""Round-14 fixes, each pinned:

1. LEASE-based writer liveness (r13 verdict item 1): the append lock
   carries host + fence + heartbeated expiry; takeover happens only on
   expiry (multi-host) or same-host pid-death (fast path), and a
   taken-over zombie's in-flight COMMIT is rejected by the fencing
   check — the last single-host assumption in the durability story,
   replaced. Fake-clock race tests, no sleeps.
2. Conditional takeover (r13 ADVICE medium): the delete/recreate
   TOCTOU is closed — a recoverer can only remove the exact dead lock
   it attributed (StoreIO.delete_if_match); any interleaved takeover
   changes the payload and the late recoverer loses explicitly.
3. commit_snapshot conflict check de-tautologized (r13 ADVICE medium):
   after a failed conditional manifest put, the pointer is RE-READ; a
   pointer already at-or-past v means a concurrent committer won and
   SnapshotConflict is raised — the winner's manifest is never
   overwritten.
4. Snapshot-tier vacuum (r13 verdict item 2): unreferenced generation
   run dirs and out-of-window manifests are GC'd under the tier
   lease; every store a retained manifest names survives, committed
   reads are bit-identical before/after, and a concurrent reader never
   errors.
"""

from __future__ import annotations

import json
import os
import subprocess
import threading

import pytest

from tijdloze_musicbrainz_spark.plans.lifecycle import (
    SnapshotConflict,
    commit_snapshot,
    current_snapshot,
    current_snapshot_version,
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
    """Deterministic lease clock — tests advance it explicitly."""
    state = {"t": 1000.0}
    monkeypatch.setattr(bk, "_now", lambda: state["t"])
    return state


# ── 1. lease expiry + fencing ────────────────────────────────────────


def test_expired_lease_taken_over_and_zombie_commit_fenced(
    tmp_path, fake_clock
):
    """The headline scenario: holder A acquires, stalls past its
    expiry (GC pause / network partition — pid still ALIVE), recoverer
    B takes over; A's in-flight snapshot commit and its release must
    both be rejected by the fence, and B's work must survive A."""
    root = str(tmp_path / "idx")
    commit_snapshot(root, {"state": "base"})

    a = exclusive_append(root, owner="holder_a", lease_s=60.0)
    lease_a = a.__enter__()
    # A is alive (our own pid) but its lease expires
    fake_clock["t"] += 61.0

    with exclusive_append(root, owner="recoverer_b", lease_s=60.0) as lease_b:
        assert lease_b.fence > lease_a.fence
        commit_snapshot(root, {"state": "b_committed"}, lease=lease_b)
        # zombie A tries to commit mid-B: fenced at the manifest write
        with pytest.raises(FencedOut):
            commit_snapshot(root, {"state": "a_zombie"}, lease=lease_a)
        # zombie A's renewal heartbeat also fences
        with pytest.raises(FencedOut):
            lease_a.renew()
        # zombie A's release must NOT delete B's lock
        a.__exit__(None, None, None)
        assert get_store_io().get_text(lease_b.path) == lease_b.payload
    assert current_snapshot(root) == {"state": "b_committed"}


def test_unexpired_lease_never_stolen_even_with_dead_remote_pid(
    tmp_path, fake_clock
):
    """pid-liveness is a SINGLE-HOST oracle (r13 verdict item 1): a
    lock held by a writer on another node — whose pid happens to be
    dead HERE — must not be stolen before its lease expires."""
    loc = str(tmp_path)
    lock = os.path.join(loc, "_APPEND_LOCK")
    io = get_store_io()
    io.put_atomic(
        lock,
        lock_payload(
            _dead_pid(),
            "remote_writer",
            fence=1,
            expires_at=fake_clock["t"] + 300.0,
            host="some-other-node",
        ),
    )
    with pytest.raises(ConcurrentAppendError):
        with exclusive_append(loc, owner="thief"):
            pass
    # ...but once the remote lease expires, recovery proceeds
    fake_clock["t"] += 301.0
    with exclusive_append(loc, owner="recoverer") as lease:
        assert lease.fence == 2  # fenced past the dead holder's token


def test_same_host_dead_pid_fast_path_skips_lease_wait(tmp_path, fake_clock):
    """A provably-dead SAME-HOST pid is taken over immediately, even
    with a long unexpired lease — the local fast path the legacy
    policy provided, preserved behind the same policy function."""
    loc = str(tmp_path)
    get_store_io().put_atomic(
        os.path.join(loc, "_APPEND_LOCK"),
        lock_payload(
            _dead_pid(),
            "crashed_local",
            fence=5,
            expires_at=fake_clock["t"] + 9999.0,
        ),
    )
    with exclusive_append(loc, owner="recoverer") as lease:
        assert lease.fence == 6


def test_fence_tokens_monotonic_across_release_and_takeover(
    tmp_path, fake_clock
):
    loc = str(tmp_path)
    fences = []
    for owner in ("w1", "w2"):
        with exclusive_append(loc, owner=owner) as lease:
            fences.append(lease.fence)
    # hard-kill debris, then recovery
    get_store_io().put_atomic(
        os.path.join(loc, "_APPEND_LOCK"),
        lock_payload(_dead_pid(), "crashed", fence=fences[-1] + 1,
                     expires_at=0.0),
    )
    with exclusive_append(loc, owner="recoverer") as lease:
        fences.append(lease.fence)
    assert fences == sorted(set(fences)), f"non-monotonic fences {fences}"


def test_renewal_extends_expiry_under_fake_clock(tmp_path, fake_clock):
    """The heartbeat: renewal pushes the expiry forward, so a renewing
    holder is never taken over; the same elapsed time WITHOUT renewal
    loses the lock."""
    loc = str(tmp_path)
    with exclusive_append(loc, owner="beater", lease_s=60.0) as lease:
        for _ in range(5):
            fake_clock["t"] += 50.0  # inside the window each time
            lease.renew()
        # 250 s elapsed, 5 renewals: still exclusively held
        with pytest.raises(ConcurrentAppendError):
            with exclusive_append(loc, owner="thief"):
                pass
        lease.assert_held()


# ── 2. conditional takeover (TOCTOU closed) ─────────────────────────


def test_takeover_loses_when_lock_changes_between_observe_and_delete(
    tmp_path, fake_clock, monkeypatch
):
    """The r13 ADVICE interleave: recoverer R observes a stale lock;
    before R's delete lands, recoverer S completes its own takeover.
    Pre-fix, R's unconditional delete removed S's LIVE lock and both
    writers entered the critical section. Now R's delete_if_match
    fails (payload changed) and R rejects — S's lock is untouched."""
    loc = str(tmp_path)
    lock = os.path.join(loc, "_APPEND_LOCK")
    io = get_store_io()
    stale = lock_payload(_dead_pid(), "crashed", fence=1, expires_at=0.0)
    io.put_atomic(lock, stale)

    s_payload = lock_payload(
        os.getpid(), "winner_s", fence=2,
        expires_at=fake_clock["t"] + 600.0,
    )
    real_delete = io.delete_if_match
    raced = {"done": False}

    def delete_after_s_wins(path, expected):
        if not raced["done"] and path == lock:
            raced["done"] = True
            io.put_atomic(lock, s_payload)  # S's takeover lands first
        return real_delete(path, expected)

    monkeypatch.setattr(io, "delete_if_match", delete_after_s_wins)
    with pytest.raises(ConcurrentAppendError):
        with exclusive_append(loc, owner="loser_r"):
            pass
    monkeypatch.undo()
    # S's lock survived R's failed takeover — the TOCTOU is closed
    assert io.get_text(lock) == s_payload


# ── 3. commit_snapshot conflict check is real ────────────────────────


def test_lockless_concurrent_commit_conflicts_instead_of_overwriting(
    tmp_path, monkeypatch
):
    """r13 ADVICE medium: writer A computes v from its pre-put read;
    writer B commits v first. A's conditional put fails; pre-fix A
    treated ANY failure as its own predecessor's orphan and overwrote
    B's manifest, then republished the pointer — losing B's commit.
    Now A re-reads the pointer, sees it advanced to v, and raises."""
    root = str(tmp_path / "idx")
    commit_snapshot(root, {"state": "base"})
    io = get_store_io()
    real_put = io.put_if_absent
    raced = {"done": False}

    def b_wins_first(path, text):
        if not raced["done"] and "/_snapshots/v1.json" in path:
            raced["done"] = True
            # B's full commit lands between A's read and A's put
            assert real_put(path, json.dumps({"state": "b_won"}))
            io.put_atomic(os.path.join(root, "_CURRENT"), "v1")
        return real_put(path, text)

    monkeypatch.setattr(io, "put_if_absent", b_wins_first)
    with pytest.raises(SnapshotConflict):
        commit_snapshot(root, {"state": "a_lost"})
    monkeypatch.undo()
    # B's commit intact: manifest content AND pointer
    assert current_snapshot(root) == {"state": "b_won"}
    assert current_snapshot_version(root) == 1


def test_orphan_reclaim_still_works_when_pointer_never_advanced(tmp_path):
    """The legitimate branch the fix must preserve: a predecessor died
    between manifest write and pointer flip; the pointer never
    advanced, so recovery — holding the tier lease, which is what
    proves the orphan's writer is dead (r14 ADVICE) — overwrites the
    orphan and publishes."""
    root = str(tmp_path / "idx")
    commit_snapshot(root, {"state": "base"})
    io = get_store_io()
    io.put_if_absent(
        f"{root}/_snapshots/v1.json", json.dumps({"state": "orphan"})
    )
    with exclusive_append(root, owner="recovery") as lease:
        assert commit_snapshot(root, {"state": "recovered"}, lease=lease) == 1
    assert current_snapshot(root) == {"state": "recovered"}


# ── 4. snapshot-tier vacuum ──────────────────────────────────────────


def _mini_tier(root: str) -> None:
    """A miniature snapshot tier: three generations of run dirs plus
    nested payload dirs, two committed snapshots, one abandoned-writer
    orphan (run dir + above-pointer manifest, never retried)."""
    io = get_store_io()
    for child in (
        "bands_g0/part-0.parquet",
        "bands_g1/part-0.parquet",
        "bands_c/part-0.parquet",
        "shingles/gen=0/part-0.parquet",
        "shingles/gen=1/part-0.parquet",
        "shingles/gen=2/part-0.parquet",  # orphan generation payload
        "bands_g2/part-0.parquet",  # orphan generation run
        "stage/delta_1/part-0.parquet",  # probe staging (named)
    ):
        io.put_atomic(os.path.join(root, child), "data")
    payload = ["shingles/gen=0", "shingles/gen=1"]
    commit_snapshot(
        root,
        manifest(runs=["bands_g0", "bands_g1"], payload=payload,
                 staging=["stage/delta_1"]),
    )
    commit_snapshot(
        root,
        manifest(runs=["bands_c"], payload=payload,
                 staging=["stage/delta_1"]),
    )
    # abandoned writer: manifest one past the pointer, never flipped
    io.put_if_absent(
        f"{root}/_snapshots/v2.json",
        json.dumps(manifest(runs=["bands_g2"])),
    )


def _named(snap: dict) -> list[str]:
    return [d for r in ("runs", "payload", "staging") for d in snap[r]]


def test_vacuum_removes_only_unreferenced_and_keeps_reads_identical(
    tmp_path,
):
    root = str(tmp_path / "idx")
    _mini_tier(root)
    before = current_snapshot(root)

    report = vacuum_unreferenced(root, keep_snapshots=2)
    # orphan run + orphan payload generation are gone...
    assert report["deleted"] == ["bands_g2", "shingles/gen=2"]
    assert not os.path.exists(f"{root}/bands_g2")
    assert not os.path.exists(f"{root}/shingles/gen=2")
    # ...every store either retained manifest names survives (v0 keeps
    # bands_g0/g1 alive inside the window), staging is named...
    for kept in ("bands_g0", "bands_g1", "bands_c", "shingles/gen=0",
                 "shingles/gen=1", "stage/delta_1"):
        assert os.path.exists(os.path.join(root, kept)), kept
    # ...the above-pointer orphan manifest is trimmed, retained kept
    assert report["retained_versions"] == [0, 1]
    assert not os.path.exists(f"{root}/_snapshots/v2.json")
    # committed reads bit-identical
    assert current_snapshot(root) == before
    assert current_snapshot_version(root) == 1

    # retention window of 1: the superseded generation dirs now go
    report = vacuum_unreferenced(root, keep_snapshots=1)
    assert report["deleted"] == ["bands_g0", "bands_g1"]
    assert not os.path.exists(f"{root}/_snapshots/v0.json")
    assert current_snapshot(root) == before


def test_vacuum_concurrent_reader_never_errors(tmp_path):
    """A reader hammering pointer→manifest→store resolution while
    vacuum runs must never error and never see a missing live store."""
    root = str(tmp_path / "idx")
    _mini_tier(root)
    io = get_store_io()
    errors: list[BaseException] = []
    stop = threading.Event()

    def reader() -> None:
        try:
            while not stop.is_set():
                snap = current_snapshot(root)
                for d in _named(snap):
                    text = io.get_text(
                        os.path.join(root, d, "part-0.parquet")
                    )
                    assert text == "data", f"live store {d} unreadable"
        except BaseException as exc:  # noqa: BLE001
            errors.append(exc)

    th = threading.Thread(target=reader)
    th.start()
    try:
        for keep in (2, 1, 1):
            vacuum_unreferenced(root, keep_snapshots=keep)
    finally:
        stop.set()
        th.join(timeout=60)
    assert not errors, errors


def test_vacuum_requires_the_lease(tmp_path, fake_clock):
    """Vacuum is a writer: with a live unexpired holder it must reject
    rather than delete under an in-flight ingest."""
    root = str(tmp_path / "idx")
    _mini_tier(root)
    with exclusive_append(root, owner="live_ingest"):
        with pytest.raises(ConcurrentAppendError):
            vacuum_unreferenced(root)


# ── 5. sweep threshold override is engine-symmetric ─────────────────


def test_sweep_threshold_override_engine_symmetric():
    """The sf0.1 sweep's answer-shrinking override (r13 verdict item
    5) must reach the Spark plan and the DuckDB oracle through the
    SAME import-time constants — proven in a fresh interpreter with
    the env set: the module constants change AND the registered oracle
    SQL carries the overridden rational."""
    code = (
        "import os, sys\n"
        "os.environ['SPARK_GRAFT_PPJOIN_T'] = '4/5'\n"
        "os.environ['SPARK_GRAFT_CONTAINMENT_T'] = '9/10'\n"
        "sys.path.insert(0, '/root/repo')\n"
        "from tijdloze_musicbrainz_spark.plans import dedup, REGISTRY\n"
        "assert (dedup.PPJ_NUM, dedup.PPJ_DEN) == (4, 5)\n"
        "assert (dedup.CONT_NUM, dedup.CONT_DEN) == (9, 10)\n"
        "o1 = REGISTRY['dedup_jaccard_prefix_filter'].oracle\n"
        "assert '((4 * len + 5 - 1) // 5)' in o1, o1\n"
        "o2 = REGISTRY['dedup_containment_join'].oracle\n"
        "assert '((9 * len + 10 - 1) // 10)' in o2, o2\n"
        "print('SYMMETRIC')\n"
    )
    out = subprocess.run(
        ["python", "-c", code], capture_output=True, text=True, timeout=300
    )
    assert out.returncode == 0, out.stderr
    assert "SYMMETRIC" in out.stdout
    # and UNSET, the canonical defaults hold in THIS process
    from tijdloze_musicbrainz_spark.plans import dedup

    assert (dedup.PPJ_NUM, dedup.PPJ_DEN) == (3, 5)
    assert (dedup.CONT_NUM, dedup.CONT_DEN) == (4, 5)


# ── 6. tier-level fencing: a real ingest taken over mid-transaction ──


def test_mh_ingest_fenced_after_mid_transaction_takeover(
    spark, sf_dir, monkeypatch, fake_clock
):
    """End-to-end zombie proof on the REAL MinHash tier: writer A's
    ingest stalls mid-transaction past its (shortened) lease; another
    writer takes the lease over and releases; A's snapshot commit must
    raise FencedOut, readers must still see the BASE snapshot (no torn
    publish), and a clean re-ingest must converge to the uncrashed
    operator's exact result."""
    from tijdloze_musicbrainz_spark.plans import REGISTRY, dedup_index as di

    name = "mh_fence"
    root, delta = di._build_base_index(spark, sf_dir, name)
    base_snap = current_snapshot(root)

    # shorten the tier's lease without touching the default
    monkeypatch.setattr(
        di,
        "exclusive_append",
        lambda loc, owner="": exclusive_append(loc, owner=owner, lease_s=30.0),
    )
    real_write = di.write_payload

    def stall_and_lose(sh, path):
        real_write(sh, path)
        monkeypatch.setattr(di, "write_payload", real_write)
        fake_clock["t"] += 31.0  # A's lease expires mid-transaction
        with exclusive_append(root, owner="usurper", lease_s=600.0):
            pass  # takeover + clean release — A's payload is gone

    monkeypatch.setattr(di, "write_payload", stall_and_lose)
    with pytest.raises(FencedOut):
        di._ingest_generation(spark, root, delta)

    # the fence held: readers still on the complete BASE snapshot
    assert current_snapshot(root) == base_snap

    # clean retry converges to the uncrashed operator bit-for-bit
    monkeypatch.setattr(di, "exclusive_append", exclusive_append)
    di._ingest_generation(spark, root, delta)
    got = {
        tuple(r)
        for r in di._probe_index(spark, root, current_snapshot(root)).collect()
    }
    want = {
        tuple(r)
        for r in REGISTRY["dedup_minhash_incremental"]
        .builder(spark, sf_dir)
        .collect()
    }
    assert got == want and got


# ── 7. probe-side pushdown cost bound ────────────────────────────────


def test_pushdown_keys_cost_bound(tmp_path, spark):
    """The r13 '16x steal spike' diagnosis (r14): a near-cap key set
    pushed as a literal In made the cc probe ~9x slower than the full
    bucketed scan. pushdown_keys returns the set only below the
    measured break-even (PROBE_PUSHDOWN_MAX_IN); the sidecar itself
    still records larger sets for the manifest key-stats entry."""
    from tijdloze_musicbrainz_spark.plans.lifecycle import (
        PROBE_PUSHDOWN_MAX_IN,
        pushdown_keys,
        read_delta_key_manifest,
        write_delta_key_manifest,
    )

    n_over = PROBE_PUSHDOWN_MAX_IN + 1
    small = spark.createDataFrame(
        [(i, i % 7) for i in range(50)], "doc_id bigint, band_key bigint"
    )
    big = spark.createDataFrame(
        [(i, i) for i in range(n_over)], "doc_id bigint, band_key bigint"
    )
    d_small, d_big = str(tmp_path / "s"), str(tmp_path / "b")
    write_delta_key_manifest(small, "band_key", d_small)
    write_delta_key_manifest(big, "band_key", d_big)
    # small set: pushed (and equals the sidecar record)
    assert pushdown_keys(d_small, "band_key") == sorted(range(7))
    # over-break-even: NOT pushed — even though the sidecar is
    # complete and the accounting read still returns it in full
    assert pushdown_keys(d_big, "band_key") is None
    assert len(read_delta_key_manifest(d_big, "band_key")) == n_over


# ── 8. vacuum generalizes across the index tiers ────────────────────


def test_vacuum_ann_tier_after_compaction(spark, sf_dir):
    """The ANN tier names its code-list runs, codebook and centroids in
    the shared manifest schema, so vacuum_unreferenced needs no
    tier-specific mapping: after append + compaction, keep-last-1
    vacuum must delete the superseded 'lists' and 'lists_g1' runs,
    keep the codebook and centroids, and the stored query must answer
    identically from the compacted snapshot."""
    from tijdloze_musicbrainz_spark.plans.lifecycle import (
        compact_partitioned,
        compact_snapshot,
        index_root,
        role_dirs,
    )
    from tijdloze_musicbrainz_spark.plans.similarity import (
        pq_lifecycle as pq,
    )

    base = pq._pq_vecs(spark, sf_dir)
    subs = pq._pq_subs(base)
    root = index_root(sf_dir, "ivfpq_vac")
    pq._pq_write_index(
        base, subs, pq._pq_seed_codebook(base, subs), pq._ivf_cents(base),
        root,
    )
    delta = pq._pq_delta(base)
    pq._pq_ingest_batch(delta, *pq._pq_model(spark, root), root)
    corpus = base.select("vec_id", "v").unionByName(
        delta.select("vec_id", "v")
    )
    topk, _, _, _ = pq._pq_query_stored(spark, base, subs, root, corpus)
    before = {tuple(r) for r in topk.collect()}

    compact_snapshot(
        root,
        "runs",
        "lists_compacted",
        lambda snap, dst: compact_partitioned(
            spark, role_dirs(root, snap, "runs"), dst, "cent_id"
        ),
        owner="pq_vac_compact",
    )

    report = vacuum_unreferenced(root, keep_snapshots=1)
    assert report["deleted"] == ["lists", "lists_g1"], report
    assert not os.path.exists(f"{root}/lists")
    assert not os.path.exists(f"{root}/lists_g1")
    for kept in ("lists_compacted", "codebook", "cents"):
        assert os.path.exists(f"{root}/{kept}"), kept

    topk2, _, _, _ = pq._pq_query_stored(spark, base, subs, root, corpus)
    after = {tuple(r) for r in topk2.collect()}
    assert after == before and after


def test_vacuum_cc_tier_after_label_compaction(spark, sf_dir):
    """The cluster tier's manifest names its block runs, payload,
    labels, remap journal and staging like every other tier, and the
    label fold is an ordinary snapshot commit: after two generations +
    the label compaction, keep-last-1 vacuum must drop exactly the
    pre-fold label chain, the remap journal and the superseded staging
    while the folded store keeps resolving identically."""
    from pyspark.sql import functions as F

    from tijdloze_musicbrainz_spark.plans import cc_index as cc
    from tijdloze_musicbrainz_spark.plans.lifecycle import (
        compact_snapshot,
        current_snapshot,
        vacuum_unreferenced,
    )
    from tijdloze_musicbrainz_spark.sources.store_io import get_store_io

    name = "cc_vac"
    root, docs_all, pay, _ = cc._build_base(spark, sf_dir, name)
    for gen, pred in (
        (1, F.col("doc_id") % cc.CC_BATCH_MOD == cc.CC_DELTA_MOD),
        (2, F.col("doc_id") % cc.CC_BATCH_MOD == 0),
    ):
        cc._ingest_and_merge_generation(spark, root, docs_all, pay, pred, gen)
    chain = {
        tuple(r)
        for r in cc._snapshot_labels(spark, root, current_snapshot(root))
        .collect()
    }
    compact_snapshot(
        root,
        "labels",
        "labels/compacted_g2",
        lambda snap, dst: cc._snapshot_labels(spark, root, snap)
        .write.parquet(dst),
        owner="cc_vac_compact",
        remaps=[],
    )
    snap = current_snapshot(root)
    assert snap["labels"] == ["labels/compacted_g2"] and snap["remaps"] == []
    flat_before = {
        tuple(r) for r in cc._snapshot_labels(spark, root, snap).collect()
    }
    assert flat_before == chain and flat_before

    report = vacuum_unreferenced(root, keep_snapshots=1)
    # exactly what the folded snapshot no longer names is gone
    assert report["deleted"] == [
        "labels/gen=0", "labels/gen=1", "labels/gen=2", "remaps",
        "stage/delta_1", "stage/delta_ids_1", "stage/delta_ids_2",
    ], report
    for kept in ("blocks_g0", "blocks_g1", "blocks_g2", "shingles/gen=2",
                 "labels/compacted_g2", "stage/delta_2"):
        assert os.path.exists(os.path.join(root, kept)), kept
    # a second pass finds nothing; an abandoned orphan label
    # generation IS collected
    assert vacuum_unreferenced(root, keep_snapshots=1)["deleted"] == []
    get_store_io().put_atomic(f"{root}/labels/gen=9/part-0.parquet", "x")
    report = vacuum_unreferenced(root, keep_snapshots=1)
    assert report["deleted"] == ["labels/gen=9"], report

    flat_after = {
        tuple(r)
        for r in cc._snapshot_labels(spark, root, current_snapshot(root))
        .collect()
    }
    assert flat_after == flat_before
