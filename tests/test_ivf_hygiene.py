"""IVF segment hygiene (VERDICT_r10 #1): cell-file compaction +
bloom-bounded idempotency probe for incremental/streaming ANN
ingestion — the tiered-BM25 lesson applied to the ANN side.

Contracts pinned here:
- compact_cells bounds parquet files per cell and never changes query
  results (parity vs the pre-compaction index);
- add()'s anti-join is bounded: a batch of genuinely new ids probes
  ZERO cells (no at-rest scan at all), a replayed batch probes only
  the colliding cells and stays idempotent;
- the lake-wins drop of a re-embedded id still works when the new
  vector assigns to a DIFFERENT cell than the at-rest copy (the
  cell-agnostic membership check);
- a missing sidecar rebuilds from the at-rest ids (exact superset) —
  recovery path for a crashed sidecar write;
- the streaming ingestion loop keeps file counts bounded over many
  micro-batches while matching the batch-built reference index.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from mrgo_spark.operators import similarity
from mrgo_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def _cell_file_counts(path: str) -> dict[int, int]:
    root = os.path.join(path, "cells")
    out = {}
    for d in os.listdir(root):
        if d.startswith("cell_id="):
            out[int(d.split("=", 1)[1])] = sum(
                1
                for f in os.listdir(os.path.join(root, d))
                if f.endswith(".parquet")
            )
    return out


def _query_snapshot(idx, queries, k=5):
    return sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in idx.query(queries, k=k).collect()
    )


def test_compact_cells_bounds_files_and_preserves_queries(spark, tmp_path):
    """Many small adds accrue one file per touched cell per add;
    compact_cells rewrites over-threshold cells to ONE file each and
    the pruned query results are bit-identical before/after."""
    emb = load_table(spark, SF, "embeddings")
    base = emb.filter(F.col("vec_id") % 8 == 0)
    idx = similarity.IVFIndex.build(base, str(tmp_path / "cmp"), n_cells=4)
    for m in range(1, 8):
        idx.add(emb.filter(F.col("vec_id") % 8 == m))
    before_files = _cell_file_counts(str(tmp_path / "cmp"))
    assert max(before_files.values()) > 2  # accrual actually happened
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    before = _query_snapshot(idx, queries)
    stats = idx.compact_cells(max_files_per_cell=2)
    assert stats["compacted_cells"]
    assert stats["files_after"] == len(stats["compacted_cells"])
    after_files = _cell_file_counts(str(tmp_path / "cmp"))
    assert max(after_files.values()) <= 2
    assert _query_snapshot(idx, queries) == before
    # row counts intact per cell (no data dropped by the swap)
    n = spark.read.parquet(str(tmp_path / "cmp") + "/cells").count()
    assert n == emb.count()
    # below-threshold call self-noops
    assert idx.compact_cells(max_files_per_cell=2)["compacted_cells"] == []


def test_compact_cells_zero_row_cell(spark, tmp_path):
    """A cell whose over-threshold files all hold zero rows comes out
    of the rewrite with no directory: the swap drops its live dir,
    query results are unchanged, no _compact_tmp/_compact_trash is
    left, and reopening the index has nothing to recover."""
    import shutil

    emb = load_table(spark, SF, "embeddings")
    path = str(tmp_path / "zr")
    idx = similarity.IVFIndex.build(emb, path, n_cells=4)
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    before = _query_snapshot(idx, queries)
    cells_root = os.path.join(path, "cells")
    empty_cell = max(_cell_file_counts(path)) + 1
    # one zero-row part file in the at-rest cell schema, copied
    # max_files_per_cell + 1 times into a fresh cell dir
    empty_src = str(tmp_path / "empty_src")
    spark.createDataFrame(
        [], spark.read.parquet(cells_root).drop("cell_id").schema
    ).coalesce(1).write.parquet(empty_src)
    part = [f for f in os.listdir(empty_src) if f.endswith(".parquet")][0]
    cell_dir = os.path.join(cells_root, f"cell_id={empty_cell}")
    os.makedirs(cell_dir)
    max_files = 2
    for i in range(max_files + 1):
        shutil.copy(
            os.path.join(empty_src, part),
            os.path.join(cell_dir, f"part-{i:05d}-empty.parquet"),
        )
    assert _cell_file_counts(path)[empty_cell] == max_files + 1
    stats = idx.compact_cells(max_files_per_cell=max_files)
    assert stats["compacted_cells"] == [empty_cell]
    assert stats["files_before"] == max_files + 1
    assert stats["files_after"] == 0
    assert not os.path.isdir(cell_dir)
    for leftover in ("_compact_tmp", "_compact_trash"):
        assert not os.path.exists(os.path.join(path, leftover))
    assert _query_snapshot(idx, queries) == before
    listing = sorted(os.listdir(path)), sorted(os.listdir(cells_root))
    reopened = similarity.IVFIndex(spark, path)  # runs _recover_compaction
    assert (sorted(os.listdir(path)), sorted(os.listdir(cells_root))) == listing
    assert _query_snapshot(reopened, queries) == before


def test_compact_then_readd_stays_idempotent(spark, tmp_path):
    """The sidecar survives compaction (the id set is invariant), so
    a replayed batch after compaction still collapses to a no-op."""
    emb = load_table(spark, SF, "embeddings")
    a = emb.filter(F.col("vec_id") % 2 == 0)
    b = emb.filter(F.col("vec_id") % 2 == 1)
    idx = similarity.IVFIndex.build(a, str(tmp_path / "ci"), n_cells=4)
    idx.add(b)
    idx.compact_cells(max_files_per_cell=1)
    idx.add(b)  # replay after compaction
    cells = spark.read.parquet(str(tmp_path / "ci") + "/cells")
    assert cells.count() == emb.count()


def test_writer_lease_blocks_second_writer(spark, tmp_path):
    """VERDICT_r11 #8: a second concurrent writer must fail loudly —
    a held lease blocks add() and compact_cells(); a crashed holder's
    stale lease is stolen; the lease is released even when the
    guarded call raises."""
    import pytest

    emb = load_table(spark, SF, "embeddings")
    a = emb.filter(F.col("vec_id") % 2 == 0)
    idx = similarity.IVFIndex.build(a, str(tmp_path / "wl"), n_cells=4)
    lease = tmp_path / "wl" / "_writer_lease"
    lease.write_text("pid=99999 op=add")  # simulate a live holder
    with pytest.raises(RuntimeError, match="another writer holds"):
        idx.add(emb.filter(F.col("vec_id") % 2 == 1))
    with pytest.raises(RuntimeError, match="another writer holds"):
        idx.compact_cells(max_files_per_cell=1)
    # crashed holder: age the lease past the TTL → stolen, add works
    os.utime(lease, (1, 1))
    idx.add(emb.filter(F.col("vec_id") % 2 == 1))
    assert not lease.exists()  # released on exit
    cells = spark.read.parquet(str(tmp_path / "wl") + "/cells")
    assert cells.count() == emb.count()
    # a raising guarded call still releases the lease
    conflict = spark.createDataFrame(
        [(1, [0.0, 1.0]), (1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="different vectors"):
        idx.add(conflict)
    assert not lease.exists()
    idx.compact_cells(max_files_per_cell=1)  # lease free again


def test_build_sidecar_matches_at_rest_rebuild(spark, tmp_path):
    """VERDICT_r11 #1: build() aggregates the sidecar from the
    checkpointed assignment frame (zero extra corpus passes); the
    result must be byte-identical to the recovery path's rebuild
    from the written cells — same counts, same bloom words."""
    emb = load_table(spark, SF, "embeddings")
    idx = similarity.IVFIndex.build(
        emb.filter(F.col("vec_id") % 3 == 0), str(tmp_path / "sp"), n_cells=4
    )
    assert idx._read_sidecar() == idx._sidecar_from_cells()


def test_add_new_ids_probes_zero_cells(spark, tmp_path):
    """The VERDICT_r10 read-amplification fix: a batch of genuinely
    new ids must not scan the at-rest id column at all — the bloom
    sidecar proves absence and last_probe_cells stays empty."""
    emb = load_table(spark, SF, "embeddings")
    a = emb.filter(F.col("vec_id") % 2 == 0)
    b = emb.filter(F.col("vec_id") % 2 == 1)
    idx = similarity.IVFIndex.build(a, str(tmp_path / "zp"), n_cells=4)
    idx.add(b)
    assert idx.last_probe_cells == []
    cells = spark.read.parquet(str(tmp_path / "zp") + "/cells")
    assert cells.count() == emb.count()


def test_add_replay_probes_only_colliding_cells(spark, tmp_path):
    """A replayed batch bloom-collides (its ids ARE at rest), probes a
    bounded cell set, and appends nothing."""
    emb = load_table(spark, SF, "embeddings")
    a = emb.filter(F.col("vec_id") % 2 == 0)
    b = emb.filter(F.col("vec_id") % 2 == 1)
    idx = similarity.IVFIndex.build(a, str(tmp_path / "rp"), n_cells=4)
    idx.add(b)
    idx.add(b)  # replay: every id already at rest
    assert idx.last_probe_cells  # collided → probed
    cells = spark.read.parquet(str(tmp_path / "rp") + "/cells")
    assert cells.count() == emb.count()


def test_lake_wins_drop_across_cells(spark, tmp_path):
    """A re-embedded id whose new vector assigns to a DIFFERENT cell
    must still be dropped lake-wins: membership is cell-agnostic
    (the bug the per-assigned-cell bloom lookup would have had)."""
    emb = load_table(spark, SF, "embeddings")
    idx = similarity.IVFIndex.build(emb, str(tmp_path / "lw"), n_cells=4)
    moved = emb.limit(5).withColumn(
        "embedding",
        F.transform("embedding", lambda x: -x),  # flips the cell
    )
    idx.add(moved)
    cells = spark.read.parquet(str(tmp_path / "lw") + "/cells")
    assert cells.count() == emb.count()  # nothing appended
    # the probe actually ran (ids collided in their at-rest cells)
    assert idx.last_probe_cells


def test_sidecar_rebuild_on_missing(spark, tmp_path):
    """Crash-recovery: a deleted/corrupt sidecar rebuilds from the
    at-rest id scan — idempotency holds through the rebuild."""
    import shutil

    emb = load_table(spark, SF, "embeddings")
    a = emb.filter(F.col("vec_id") % 2 == 0)
    idx = similarity.IVFIndex.build(a, str(tmp_path / "rb"), n_cells=4)
    shutil.rmtree(str(tmp_path / "rb" / "idstats"))
    idx.add(a)  # replay with no sidecar: rebuild must catch the dups
    cells = spark.read.parquet(str(tmp_path / "rb") + "/cells")
    assert cells.count() == a.count()
    # sidecar was re-materialized
    assert os.path.isdir(str(tmp_path / "rb" / "idstats"))


def test_recover_compaction_restores_stranded_cell(spark, tmp_path):
    """A crash between the two swap renames leaves the cell dir in
    _compact_trash; the next construction restores it."""
    import shutil

    emb = load_table(spark, SF, "embeddings")
    idx = similarity.IVFIndex.build(emb, str(tmp_path / "rc"), n_cells=4)
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    before = _query_snapshot(idx, queries)
    root = str(tmp_path / "rc")
    cells_root = os.path.join(root, "cells")
    victim = sorted(
        d for d in os.listdir(cells_root) if d.startswith("cell_id=")
    )[0]
    trash = os.path.join(root, "_compact_trash")
    os.makedirs(trash)
    os.rename(
        os.path.join(cells_root, victim), os.path.join(trash, victim)
    )
    idx2 = similarity.IVFIndex(spark, root)  # recovery runs here
    assert os.path.isdir(os.path.join(cells_root, victim))
    assert not os.path.isdir(trash)
    assert _query_snapshot(idx2, queries) == before


def test_streaming_ingest_compaction_bounds_files(spark, tmp_path):
    """N micro-batches through ingest_ann_foreach_batch with the
    default compaction cadence: file counts stay bounded, the grown
    index matches a batch-built reference, and performed compactions
    are recorded in the holder."""
    from mrgo_spark.streaming import stream_ops

    emb = load_table(spark, SF, "embeddings")
    base = emb.filter(F.col("vec_id") % 8 == 0)
    rest = emb.filter(F.col("vec_id") % 8 != 0)
    idx = similarity.IVFIndex.build(base, str(tmp_path / "st"), n_cells=4)

    src_dir = tmp_path / "vec_src"
    src_dir.mkdir()
    schema_df = rest.limit(0)
    stream = (
        spark.readStream.schema(schema_df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir))
    )
    for m in range(1, 8):
        rest.filter(F.col("vec_id") % 8 == m).coalesce(1).write.mode(
            "append"
        ).parquet(str(src_dir))
    holder: dict = {}
    q = (
        stream_ops.ingest_ann_foreach_batch(
            idx, stream, compact_max_files=2, holder=holder
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    files = _cell_file_counts(str(tmp_path / "st"))
    assert max(files.values()) <= 2
    assert holder.get("compactions")  # at least one compaction ran
    # parity: grown index == same-centroid fresh assignment
    ref_path = str(tmp_path / "ref")
    idx.centroids.write.mode("overwrite").parquet(f"{ref_path}/centroids")
    cells = similarity._assign_cells(
        emb.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("cvec_"),
        ),
        idx.centroids,
        "neighbor_id",
        "cvec_",
        n_probe=1,
    )
    cells.repartition("cell_id").write.mode("overwrite").partitionBy(
        "cell_id"
    ).parquet(f"{ref_path}/cells")
    ref = similarity.IVFIndex(spark, ref_path)
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    assert _query_snapshot(idx, queries) == _query_snapshot(ref, queries)


def test_delete_filters_queries_and_blocks_readd(spark, tmp_path):
    """r12 ANN deletes: tombstoned vectors vanish from query results
    immediately (survivor scores unchanged, ranks close up);
    re-adding a deleted id raises until expunge; duplicate/unknown
    tombstones are harmless."""
    import pytest

    emb = load_table(spark, SF, "embeddings")
    idx = similarity.IVFIndex.build(emb, str(tmp_path / "dl"), n_cells=4)
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    before = idx.query(queries, k=10000).collect()
    victims = sorted({r.neighbor_id for r in before})[:4]
    idx.delete(victims)
    idx.delete(victims + [10**12])  # replay + unknown id: harmless
    vset = set(victims)
    after = sorted(
        map(tuple, idx.query(queries, k=10000).collect())
    )
    want = sorted(
        (q, n, s, r - sum(1 for x in before
                          if x.query_id == q and x.neighbor_id in vset
                          and x.rank < r))
        for q, n, s, r in map(tuple, before)
        if n not in vset
    )
    assert after == want
    with pytest.raises(ValueError, match="tombstoned"):
        idx.add(emb.filter(F.col("vec_id") == victims[0]))


def test_expunge_deletes_physical_and_sidecar_exact(spark, tmp_path):
    """expunge physically removes the rows (bloom-pruned cell
    rewrite), serves identically to the tombstone filter, rebuilds
    the touched cells' sidecar rows exactly (== the at-rest rebuild),
    clears the tombstones, and unblocks re-adding."""
    emb = load_table(spark, SF, "embeddings")
    path = str(tmp_path / "xp")
    idx = similarity.IVFIndex.build(emb, path, n_cells=4)
    n0 = spark.read.parquet(path + "/cells").count()
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    victims = [
        r.vec_id
        for r in emb.select("vec_id").orderBy("vec_id").limit(5).collect()
    ]
    idx.delete(victims)
    served_tombstoned = _query_snapshot(idx, queries, k=50)
    stats = idx.expunge_deletes()
    assert sorted(stats["expunged_cells"])  # at least one cell rewritten
    assert stats["n_removed"] == len(victims)
    assert spark.read.parquet(path + "/cells").count() == n0 - len(victims)
    # serving unchanged by the physical rewrite
    assert _query_snapshot(idx, queries, k=50) == served_tombstoned
    # sidecar == the exact at-rest rebuild, tombstones gone
    assert idx._read_sidecar() == idx._sidecar_from_cells()
    assert idx._tombstones() is None
    # no-op second expunge; re-add now works
    assert idx.expunge_deletes() == {"expunged_cells": [], "n_removed": 0}
    idx.add(emb.filter(F.col("vec_id") == victims[0]))
    assert (
        spark.read.parquet(path + "/cells")
        .filter(F.col("neighbor_id") == victims[0])
        .count()
        == 1
    )


def test_cdc_ingest_delete_update_readd_replay(spark, tmp_path):
    """r12 CDC loop: within-batch netting (add-then-delete nets to
    delete), cross-batch delete, UPDATE of a live id (re-embed →
    tombstone + expunge + re-add, the path plain add() silently
    drops), and a replayed batch leaving the state bit-identical."""
    from mrgo_spark.streaming import stream_ops

    emb = load_table(spark, SF, "embeddings")
    base = emb.filter(F.col("vec_id").isin([0, 2, 4, 6]))
    path = str(tmp_path / "cdc")
    idx = similarity.IVFIndex.build(base, path, n_cells=2)

    def vec(i):
        return [
            float(x)
            for x in emb.filter(F.col("vec_id") == i)
            .select("embedding")
            .collect()[0][0]
        ]

    v2new = [x + 0.5 for x in vec(2)]
    b0 = [
        (1, "add", 1, vec(1)),
        (2, "add", 3, vec(3)),
        (3, "add", 5, vec(5)),
        (4, "delete", 5, None),  # nets to delete: 5 never lands
    ]
    b1 = [
        (10, "delete", 0, None),
        (11, "add", 2, v2new),   # update of a live id
        (12, "add", 7, vec(7)),
    ]
    schema = "seq long, op string, vec_id long, embedding array<double>"
    holder: dict = {}

    # drive the foreachBatch processor directly (deterministic batch
    # boundaries without a stream — the holder["_ingest"] idiom)
    captured = {}

    class _FakeStream:
        def __init__(self):
            self.writeStream = self

        def foreachBatch(self, fn):
            captured["fn"] = fn
            return self

    stream_ops.ingest_ann_cdc_foreach_batch(
        idx, _FakeStream(), compact_max_files=8, holder=holder
    )
    proc = captured["fn"]

    proc(spark.createDataFrame(b0, schema), 0)
    at_rest = {
        r.neighbor_id
        for r in spark.read.parquet(path + "/cells").collect()
    }
    assert at_rest == {0, 1, 2, 3, 4, 6}  # 5 netted out
    proc(spark.createDataFrame(b1, schema), 1)

    def state():
        rows = spark.read.parquet(path + "/cells").collect()
        t = idx._tombstones()
        dead = set() if t is None else {r.neighbor_id for r in t.collect()}
        return {
            r.neighbor_id: tuple(r.cvec_)
            for r in rows
            if r.neighbor_id not in dead
        }

    s1 = state()
    assert set(s1) == {1, 2, 3, 4, 6, 7}  # 0 deleted, 7 added
    # the update REPLACED the vector — stored at the index's at-rest
    # float32 width (add() normalizes batch vectors to it, the r12
    # mixed-type append fix), so expect the float32 round-trip
    import numpy as np

    assert s1[2] == tuple(
        float(x) for x in np.asarray(v2new, dtype=np.float32)
    )
    b1_rec = [b for b in holder["batches"] if b["batch_id"] == 1][0]
    assert b1_rec["n_replaced"] == 1 and b1_rec["expunged"]
    # replay of b1 is a state no-op
    proc(spark.createDataFrame(b1, schema), 2)
    assert state() == s1
    b2_rec = [b for b in holder["batches"] if b["batch_id"] == 2][0]
    assert b2_rec["n_replaced"] == 0 and not b2_rec["expunged"]


def test_expunge_crash_before_trash_removal_rerun_safe(
    spark, tmp_path, monkeypatch
):
    """ADVICE r12 (medium): the expunge swap must remove
    _compact_trash BEFORE writing the new sidecar. Simulated crash at
    exactly that boundary (the final rmtree raises): the OLD superset
    sidecar is still on disk, _recover_compaction restores the
    all-deleted cell from trash, and the bloom-driven re-run — driven
    by the OLD sidecar — re-selects and re-expunges it. Under the old
    order (sidecar first) the restored cell was invisible to the
    re-run's bloom scan: deleted vectors served again with no sidecar
    claims."""
    import shutil

    emb = load_table(spark, SF, "embeddings")
    path = str(tmp_path / "xc")
    idx = similarity.IVFIndex.build(emb, path, n_cells=4)
    cells = spark.read.parquet(path + "/cells")
    by_cell = {
        r.cell_id: r.n
        for r in cells.groupBy("cell_id").agg(F.count("*").alias("n")).collect()
    }
    doomed_cell = min(by_cell, key=lambda c: (by_cell[c], c))
    victims = sorted(
        r.neighbor_id
        for r in cells.filter(F.col("cell_id") == doomed_cell).collect()
    )
    idx.delete(victims)

    real_rmtree = shutil.rmtree
    trash = os.path.join(path, "_compact_trash")

    def crashing_rmtree(p, *a, **kw):
        if str(p) == trash and not kw.get("ignore_errors", False):
            raise RuntimeError("simulated crash before trash removal")
        return real_rmtree(p, *a, **kw)

    monkeypatch.setattr(shutil, "rmtree", crashing_rmtree)
    import pytest

    with pytest.raises(RuntimeError, match="simulated crash"):
        idx.expunge_deletes()
    monkeypatch.setattr(shutil, "rmtree", real_rmtree)

    # crashed state: trash present, OLD sidecar, tombstones intact
    assert os.path.isdir(trash)
    assert idx._tombstones() is not None
    # the re-run must finish the job: recovery restores the doomed
    # cell from trash, the old superset sidecar re-selects it
    stats = idx.expunge_deletes()
    assert doomed_cell in stats["expunged_cells"]
    assert not os.path.isdir(trash)
    remaining = spark.read.parquet(path + "/cells")
    assert (
        remaining.filter(F.col("neighbor_id").isin(victims)).count() == 0
    )
    assert not os.path.isdir(
        os.path.join(path, "cells", f"cell_id={doomed_cell}")
    )
    assert idx._read_sidecar() == idx._sidecar_from_cells()
    assert idx._tombstones() is None
    # superset invariant held throughout: a victim re-add works and
    # lands exactly once
    idx.add(emb.filter(F.col("vec_id") == victims[0]))
    assert (
        spark.read.parquet(path + "/cells")
        .filter(F.col("neighbor_id") == victims[0])
        .count()
        == 1
    )


def test_expunge_skips_claim_only_cell(spark, tmp_path):
    """ADVICE r12 (low): a cell can hold bloom CLAIMS but no dir —
    add() writes the sidecar superset-first, so a crash before the
    cell append leaves claimed ids with nothing physical. Expunging
    such an id must skip the missing live dir (nothing to remove)
    and zero the claim row, not raise FileNotFoundError mid-swap."""
    emb = load_table(spark, SF, "embeddings")
    path = str(tmp_path / "co")
    idx = similarity.IVFIndex.build(
        emb.filter(F.col("vec_id") % 2 == 0), path, n_cells=4
    )
    # emulate the crashed add: claim a new id in a brand-new cell
    # (sidecar written, cell append never happened)
    ghost_id = 10**9 + 7
    side = idx._read_sidecar()
    ghost_cell = max(side) + 1
    assigned = spark.createDataFrame(
        [(ghost_id, ghost_cell)], "neighbor_id long, cell_id int"
    )
    idx._write_sidecar(idx._sidecar_merge(side, assigned))
    assert not os.path.isdir(
        os.path.join(path, "cells", f"cell_id={ghost_cell}")
    )
    idx.delete([ghost_id])
    stats = idx.expunge_deletes()  # must not raise
    assert ghost_cell in stats["expunged_cells"]
    assert stats["n_removed"] == 0  # nothing physical existed
    side_after = idx._read_sidecar()
    assert ghost_cell not in side_after  # claim row zeroed + dropped
    assert side_after == idx._sidecar_from_cells()
    assert idx._tombstones() is None


def test_lease_release_verifies_nonce(spark, tmp_path):
    """ADVICE r12 (low): the lease release is nonce-verified — a TTL
    stealer that claimed after our expiry owns the file, and the
    expired holder's exit must NOT unlink it. Steal-by-unlink is
    already pinned by test_writer_lease_blocks_second_writer."""
    emb = load_table(spark, SF, "embeddings")
    path = str(tmp_path / "nl")
    idx = similarity.IVFIndex.build(
        emb.filter(F.col("vec_id") % 4 == 0), path, n_cells=2
    )
    lease = os.path.join(path, "_writer_lease")
    with idx._acquire_lease("test"):
        assert os.path.exists(lease)
        with open(lease) as f:
            assert "nonce=" in f.read()
        # a stealer rewrites the lease mid-hold (simulating the
        # post-TTL steal): our exit must leave THEIR lease alone
        with open(lease, "w") as f:
            f.write("pid=424242 op=steal nonce=theirs")
    assert os.path.exists(lease)
    with open(lease) as f:
        assert f.read() == "pid=424242 op=steal nonce=theirs"
    os.unlink(lease)
    # normal hold/release still removes its own lease
    with idx._acquire_lease("test"):
        assert os.path.exists(lease)
    assert not os.path.exists(lease)


def _jobs_in_group(sc, group: str, at_least: int = 0) -> list[int]:
    """Job ids Spark's status tracker lists for ``group``, polled until
    at least ``at_least`` are visible (job starts reach the tracker
    through the asynchronous listener bus)."""
    import time

    deadline = time.time() + 30
    while True:
        ids = sorted(sc.statusTracker().getJobIdsForGroup(group))
        if len(ids) >= at_least or time.time() > deadline:
            return ids
        time.sleep(0.05)


def test_corrupt_tombstones_propagate(spark, tmp_path):
    """A tombstones dir that EXISTS but cannot be read must raise, not
    silently serve deleted rows — for both at-rest indexes, which
    share one tombstone store. Only the no-dir state means 'no
    deletes', and deciding it launches no Spark job."""
    from mrgo_spark.operators import retrieval

    emb = load_table(spark, SF, "embeddings")
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    built = [
        similarity.IVFIndex.build(
            emb.filter(F.col("vec_id") % 4 == 0),
            str(tmp_path / "ct"),
            n_cells=2,
        ),
        retrieval.BM25Index.build(
            docs.filter(F.col("doc_id") % 4 == 0),
            str(tmp_path / "cb"),
            n_buckets=4,
        ),
    ]
    sc = spark.sparkContext
    for idx in built:
        group = f"tombstone-probe-{os.path.basename(idx.path)}"
        sc.setJobGroup(group, "no-delete tombstone read")
        try:
            # no dir → genuinely no deletes, decided without a job
            assert idx._tombstones() is None
            # a job in the same group after the read: once the tracker
            # shows it, any job the read launched would show too
            spark.range(1).collect()
            jobs = _jobs_in_group(sc, group, at_least=1)
        finally:
            sc._jsc.clearJobGroup()
        assert len(jobs) == 1, jobs
        tdir = os.path.join(idx.path, "tombstones")
        os.makedirs(tdir)
        with open(os.path.join(tdir, "part-00000.parquet"), "wb") as f:
            f.write(b"this is not parquet")
        raised = False
        try:
            t = idx._tombstones()
            assert t is not None, "corrupt tombstones misread as 'no deletes'"
            t.collect()
        except AssertionError:
            raise
        except Exception:
            raised = True
        assert raised, "corrupt tombstones must raise, not serve deletes"
