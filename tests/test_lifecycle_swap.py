"""Concurrent-reader visibility for index-compaction swaps (r11
verdict item 3): compaction writes a FRESH store and then publishes it
with one snapshot commit (plans/lifecycle.py compact_snapshot →
commit_snapshot: conditional-put manifest + atomic pointer flip) —
the same commit path every tier uses for ingest. These are REAL
two-thread races, the index tiers' sibling of tests/test_manifest.py's
two-writer proof: a reader loops current_snapshot -> full probe of
the stores that snapshot names while the compactor rewrites and
commits. Every observed result must equal a legal snapshot — the old
complete store set or the new complete store; a torn read (a reader
inside a half-written store) would surface as a missing-footer error
or a wrong result set, and both fail the assertion.
"""

from __future__ import annotations

import threading

from pyspark.sql import functions as F


def _race(compact, read_once) -> None:
    """Run ``compact`` on one thread while ``read_once`` loops on
    another, then two more reads so the POST-commit state is provably
    read; any exception on either side fails the test."""
    done = threading.Event()
    errors: list[BaseException] = []

    def compactor() -> None:
        try:
            compact()
        except BaseException as exc:  # noqa: BLE001
            errors.append(exc)
        finally:
            done.set()

    def reader() -> None:
        try:
            last_two = 2
            while last_two:
                if done.is_set():
                    last_two -= 1
                read_once()
        except BaseException as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [
        threading.Thread(target=compactor),
        threading.Thread(target=reader),
    ]
    for t_ in threads:
        t_.start()
    for t_ in threads:
        t_.join(timeout=300)
    assert not errors, errors


def test_concurrent_probe_during_band_index_compaction(spark, tmp_path):
    from tijdloze_musicbrainz_spark.plans import dedup_index as di
    from tijdloze_musicbrainz_spark.plans.lifecycle import (
        commit_snapshot,
        current_snapshot,
        manifest,
        run_table,
        write_run,
    )

    root = str(tmp_path / "swap")
    store = spark.range(200_000).select(
        F.xxhash64("id").alias("band_key"), F.col("id").alias("doc_id")
    )
    write_run(store, f"{root}/bands_g0", di._MH)
    rows5 = spark.table(run_table(f"{root}/bands_g0")).limit(5).collect()
    spark.createDataFrame(
        [(10_000_000 + i, r["band_key"]) for i, r in enumerate(rows5)],
        "doc_id bigint, band_key bigint",
    ).coalesce(1).write.parquet(f"{root}/stage/delta_1")
    spark.createDataFrame(
        [
            (i, ["a b c"])
            for i in [r["doc_id"] for r in rows5]
            + [10_000_000 + j for j in range(5)]
        ],
        "doc_id bigint, sgs array<string>",
    ).write.parquet(f"{root}/sh")
    commit_snapshot(
        root,
        manifest(
            runs=["bands_g0"], payload=["sh"], staging=["stage/delta_1"],
            n_indexed=1,
        ),
    )

    def probe(snap: dict) -> frozenset:
        return frozenset(
            tuple(r) for r in di._probe_index(spark, root, snap).collect()
        )

    expected = probe(current_snapshot(root))
    assert expected, "probe found no pairs — fixture broke"
    observed_runs: set[tuple] = set()

    def read_once() -> None:
        snap = current_snapshot(root)
        observed_runs.add(tuple(snap["runs"]))
        assert probe(snap) == expected, f"torn read via {snap['runs']}"

    _race(lambda: di._compact_bands(spark, root), read_once)
    # the race genuinely crossed the swap: the reader saw the new
    # store after the commit (and typically the old one while
    # compacting)
    assert ("bands_c",) in observed_runs, observed_runs
    assert current_snapshot(root)["runs"] == ["bands_c"]
    for run in ("bands_g0", "bands_c"):
        spark.sql(f"DROP TABLE IF EXISTS {run_table(f'{root}/{run}')}")


def test_concurrent_label_read_during_label_compaction(spark, tmp_path):
    """The cluster tier's fold: readers resolve labels through the
    committed remap journal until the compactor commits the flat
    folded store. Same legal-snapshot contract — both snapshots
    resolve to the SAME (doc_id, cluster_id) set, so any torn read of
    a half-written flat store fails the equality."""
    from tijdloze_musicbrainz_spark.plans import cc_index as cc
    from tijdloze_musicbrainz_spark.plans.lifecycle import (
        commit_snapshot,
        compact_snapshot,
        current_snapshot,
        manifest,
    )

    root = str(tmp_path / "cc")
    n = 20_000
    spark.range(n).select(
        F.col("id").alias("doc_id"), (F.col("id") % 1000).alias("cluster_id")
    ).write.parquet(f"{root}/labels/gen=0")
    # one remap generation: fold odd labels into their even neighbor
    spark.range(500).select(
        (F.col("id") * 2 + 1).alias("old_label"),
        (F.col("id") * 2).alias("new_label"),
    ).write.parquet(f"{root}/remaps/gen=1")
    commit_snapshot(
        root, manifest(labels=["labels/gen=0"], remaps=["remaps/gen=1"])
    )

    def resolve(snap: dict) -> frozenset:
        return frozenset(
            (r["doc_id"], r["cluster_id"])
            for r in cc._snapshot_labels(spark, root, snap).collect()
        )

    expected = resolve(current_snapshot(root))
    assert len(expected) == n
    saw_flat: list[bool] = []

    def read_once() -> None:
        snap = current_snapshot(root)
        saw_flat.append(snap["remaps"] == [])
        assert resolve(snap) == expected, "torn label read"

    _race(
        lambda: compact_snapshot(
            root,
            "labels",
            "labels/compacted",
            lambda snap, dst: cc._snapshot_labels(spark, root, snap)
            .write.parquet(dst),
            remaps=[],
        ),
        read_once,
    )
    assert saw_flat[-1] is True  # post-commit read went to the flat store
    assert current_snapshot(root)["labels"] == ["labels/compacted"]
