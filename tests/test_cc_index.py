"""Incremental cluster lifecycle (plans/cc_index.py): the probe must
read the stored block index bucket-aligned (no index shuffle), the
merge must run on the contracted graph through the CURRENT labels,
and the incremental labels must be bit-identical to a from-scratch
batch clustering — including the relabel cascade when an arriving
document bridges two existing components, and the chained cascade
when a LATER generation bridges through a component an earlier
generation already merged.
"""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from tijdloze_musicbrainz_spark.plans import REGISTRY
from tijdloze_musicbrainz_spark.plans import cc_index as cc
from tijdloze_musicbrainz_spark.plans.cc_index import (
    CC_DELTA_MOD,
    _build_base,
    _ingest_and_merge_generation,
)
from tijdloze_musicbrainz_spark.plans.lifecycle import (
    current_snapshot,
    probe_pairs,
)


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_probe_reads_stored_blocks_bucketed(spark, sf_dir):
    root, docs_all, pay, _ = _build_base(spark, sf_dir, "cc_plan_probe")
    _ingest_and_merge_generation(
        spark, root, docs_all, pay, F.col("doc_id") % CC_DELTA_MOD == 0, gen=1
    )
    # the generation's merge probed exactly this view: base run + the
    # generation's run, staged delta blocks, every payload generation
    snap = current_snapshot(root)
    assert snap["runs"] == ["blocks_g0", "blocks_g1"]
    plan = _plan(probe_pairs(spark, root, snap, cc._CC))
    assert "Bucketed: true" in plan
    assert "SortMergeJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # r11 verdict item 1: the ingest-time key sidecar is pushed into
    # the stored block scan as a literal In(blk, ...) predicate, so a
    # small batch reads only matching row groups / bucket files
    # (the full mechanics are pinned in tests/test_dedup_index.py::
    # test_small_delta_probe_skips_row_groups; here we pin the cc tier
    # wires the same sidecar through its probe)
    assert "In(blk" in plan, plan[:4000]


def test_base_pairs_broadcast_when_block_bytes_unavailable(
    spark, sf_dir, monkeypatch
):
    """The base-vs-base self-join's broadcast gate must still engage
    when the checkpoint reports no block bytes (a RELIABLE checkpoint
    dir — bytes=None): the exact base row count then sizes the build
    side against CC_PAY_BCAST_ROW_BYTES. The pairs DataFrame handed to
    connected_components is captured and its plan inspected, with the
    planner's own size-based broadcast switched off so only the gate's
    decision can produce the broadcast."""
    real = cc.checkpointed_payload

    def no_bytes(*a, **k):
        df, metrics = real(*a, **k)
        return df, {**metrics, "bytes": None}

    class Captured(Exception):
        pass

    edges = {}

    def capture(df):
        edges["plan"] = _plan(df)
        raise Captured

    monkeypatch.setattr(cc, "checkpointed_payload", no_bytes)
    monkeypatch.setattr(cc, "connected_components", capture)
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        with pytest.raises(Captured):
            _build_base(spark, sf_dir, "cc_bcast_gate")
    finally:
        spark.conf.set(key, prev)
    assert "BroadcastHashJoin" in edges["plan"], edges["plan"][:4000]


def test_incremental_labels_equal_batch_clustering(spark, sf_dir):
    inc = {
        r["doc_id"]: r["cluster_id"]
        for r in REGISTRY["dedup_cluster_incremental"]
        .builder(spark, sf_dir)
        .collect()
    }
    batch = {
        r["doc_id"]: r["cluster_id"]
        for r in REGISTRY["dedup_cluster_components"]
        .builder(spark, sf_dir)
        .collect()
    }
    assert inc == batch
    assert any(k != v for k, v in inc.items()), (
        "corpus produced no non-trivial clusters — test is vacuous"
    )


def test_two_batch_compacted_equals_single_batch(spark, sf_dir):
    """Batch-count independence + compaction contract: two-generation
    ingest, resolved through the remap chain and folded flat, must
    produce exactly the single-batch (and hence from-scratch) labels."""
    two = {
        r["doc_id"]: r["cluster_id"]
        for r in REGISTRY["dedup_cluster_label_compact"]
        .builder(spark, sf_dir)
        .collect()
    }
    one = {
        r["doc_id"]: r["cluster_id"]
        for r in REGISTRY["dedup_cluster_incremental"]
        .builder(spark, sf_dir)
        .collect()
    }
    assert two == one


def _write_docs(path, rows) -> None:
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE d (doc_id BIGINT, text VARCHAR, lang VARCHAR, "
        "source VARCHAR, n_chars BIGINT)"
    )
    con.executemany(
        "INSERT INTO d VALUES (?, ?, 'en', 's0', ?)",
        [(i, txt, len(txt)) for i, txt in rows],
    )
    con.execute(f"COPY d TO '{path}/documents.parquet' (FORMAT parquet)")


_TOKS = [f"t{i}" for i in range(1, 63)]  # 62 tokens, 60 shingles


def _variant(*changes: tuple[int, str]) -> str:
    ws = list(_TOKS)
    for pos, w in changes:
        ws[pos - 1] = w
    return " ".join(ws)


def test_relabel_cascade_when_delta_bridges_two_components(spark, tmp_path):
    """Crafted corpus: base components {1,2} (label 1) and {3,4}
    (label 3) are NOT near-dups of each other (J ~ 0.82 < 0.9), but
    the arriving doc 10 is >= 0.9-near one member of EACH — the merge
    must cascade the relabel so all five documents land in cluster 1,
    even though doc 3/4 were never compared against doc 1/2."""
    rows = [
        # comp A: 2 = T<30>, 1 = T<30, last>  (J(1,2) = 59/61 ~ 0.97)
        (1, _variant((30, "qa"), (62, "qz1"))),
        (2, _variant((30, "qa"))),
        # comp B: 3 = T<40>, 4 = T<40, last>
        (3, _variant((40, "qb"))),
        (4, _variant((40, "qb"), (62, "qz4"))),
        # bridge: 10 = T exactly; J(10,2) = J(10,3) = 57/63 ~ 0.905,
        # J(2,3) = 54/66 ~ 0.82 (never pairs directly)
        (10, _variant()),
    ]
    _write_docs(tmp_path, rows)
    assert all(i % CC_DELTA_MOD != 0 for i, _ in rows[:4])
    assert rows[4][0] % CC_DELTA_MOD == 0

    out = {
        r["doc_id"]: (r["cluster_id"], r["n_indexed"])
        for r in REGISTRY["dedup_cluster_incremental"]
        .builder(spark, str(tmp_path))
        .collect()
    }
    assert out == {i: (1, 5) for i in (1, 2, 3, 4, 10)}


def test_chained_merge_contracts_through_earlier_generation(spark, tmp_path):
    """Generation 2 must contract through generation 1's remap:
    gen 1's doc 10 merges {1,2} and {3,4} into cluster 1 (remap
    3 -> 1); gen 2's doc 20 pairs with doc 10 (now labeled 1) and
    with comp C {5,6} (label 5). If gen 2 contracted against STALE
    labels it would still work here via doc 10's stored label, so the
    sharper assertion is the remap CHAIN: 5 -> 1 must land in gen 2's
    journal and resolve through the fold, giving one global cluster 1
    for all eight documents."""
    rows = [
        (1, _variant((30, "qa"), (62, "qz1"))),
        (2, _variant((30, "qa"))),
        (3, _variant((40, "qb"))),
        (4, _variant((40, "qb"), (62, "qz4"))),
        # comp C: TWO interior changes so J(10, 5) = 54/66 < 0.9 (gen 1
        # must NOT absorb it) but J(20, 5) = 57/63 >= 0.9 (gen 2 does)
        (5, _variant((50, "qc"), (52, "qc2"))),
        (6, _variant((50, "qc"), (52, "qc2"), (62, "qz6"))),
        # gen 1 bridge (10 % 20 == 10): T itself
        (10, _variant()),
        # gen 2 bridge (20 % 20 == 0): near 10 (one change) and near 5
        (20, _variant((50, "qc"))),
    ]
    _write_docs(tmp_path, rows)

    out = {
        r["doc_id"]: (r["cluster_id"], r["n_indexed"])
        for r in REGISTRY["dedup_cluster_label_compact"]
        .builder(spark, str(tmp_path))
        .collect()
    }
    assert out == {i: (1, 8) for i in (1, 2, 3, 4, 5, 6, 10, 20)}


def test_streaming_restart_labels_equal_batch_clustering(spark, sf_dir):
    """The cluster tier's restart-under-failure proof: the builder
    injects a torn commit after micro-batch 1's merge generation and
    restarts from the checkpoint (raising if the failure does not
    fire); the final resolved labels must equal the from-scratch batch
    clustering — the crash and replay changed nothing."""
    restart = {
        r["doc_id"]: r["cluster_id"]
        for r in REGISTRY["streaming_cluster_ingest_restart"]
        .builder(spark, sf_dir)
        .collect()
    }
    batch = {
        r["doc_id"]: r["cluster_id"]
        for r in REGISTRY["dedup_cluster_components"]
        .builder(spark, sf_dir)
        .collect()
    }
    assert restart == batch
    assert any(k != v for k, v in restart.items()), (
        "corpus produced no non-trivial clusters — test is vacuous"
    )


def test_streaming_restart_rejects_too_small_corpus(spark, tmp_path):
    """The restart proof needs >= 2 staged micro-batch files (the torn
    commit fires after batch 1); a tiny corpus stages fewer (Spark
    writes no file for an empty repartition slice) and must fail with
    the loud staging error, not a vacuous 'failure did not fire' deep
    in the harness or a missing remaps/gen path at resolve."""
    import pytest

    rows = [(1, _variant((30, "qa"))), (10, _variant())]
    _write_docs(tmp_path, rows)
    with pytest.raises(ValueError, match="staged arrival file"):
        REGISTRY["streaming_cluster_ingest_restart"].builder(
            spark, str(tmp_path)
        ).collect()
