"""Delete-then-repopulate (redo) semantics: the reference's
idempotent-restart path (mining_cache.py:291-302) over snapshot tables."""

from __future__ import annotations

from pyspark.sql import functions as F

from search_spark import datagen
from search_spark.io.snapshots import SnapshotTable
from search_spark.pipeline import redo_entity_type, run_to_snapshot

TRIPLE_COLS = ["subj", "pred", "obj", "prov", "entity_type"]


def _rows_by_type(spark, root):
    """entity_type → multiset (tuple → count) of its triple rows.

    Multisets, not sets: mention-level output legitimately repeats a triple
    when one paragraph holds two identical mentions (prov is
    paragraph-grained, like the reference's paper_id)."""
    df = SnapshotTable(spark, root).load()
    out: dict[str, dict] = {}
    for r in df.select(*TRIPLE_COLS).collect():
        ms = out.setdefault(r["entity_type"], {})
        key = tuple(r)[:4]
        ms[key] = ms.get(key, 0) + 1
    return out


def test_redo_replaces_one_entity_type_without_duplicates(spark, tmp_path):
    root = str(tmp_path / "t")
    pages = datagen.generate_web_pages(spark, 25, seed=11, partitions=2)
    run_to_snapshot(spark, pages, root)
    before = _rows_by_type(spark, root)
    assert "CHEMICAL" in before and len(before) > 2

    result = redo_entity_type(spark, pages, root, "CHEMICAL")
    assert result["n_deleted"] == sum(before["CHEMICAL"].values())
    assert result["n_repopulated"] == result["n_deleted"]

    after = _rows_by_type(spark, root)
    # deterministic pipeline → the re-mined type reproduces the exact
    # multiset (nothing lost, nothing double-appended)
    assert after["CHEMICAL"] == before["CHEMICAL"]
    # all other types untouched
    for etype in before:
        if etype != "CHEMICAL":
            assert after[etype] == before[etype], etype


def test_redo_preserves_resume_bookkeeping(spark, tmp_path):
    root = str(tmp_path / "t")
    pages = datagen.generate_web_pages(spark, 15, seed=12, partitions=2)
    run_to_snapshot(spark, pages, root)
    redo_entity_type(spark, pages, root, "DISEASE")
    # processed markers survived the rewrite → plain rerun still resumes
    again = run_to_snapshot(spark, pages, root)
    assert again == {"resumed": True, "n_docs": 0, "n_triples": 0}


def test_delete_where_rewrites_all_snapshots(spark, tmp_path):
    root = str(tmp_path / "t")
    p1 = datagen.generate_web_pages(spark, 10, seed=13, partitions=2)
    p2 = datagen.generate_web_pages(spark, 20, seed=13, partitions=2)
    run_to_snapshot(spark, p1, root)
    run_to_snapshot(spark, p2, root)  # delta snapshot
    table = SnapshotTable(spark, root)
    assert len(table.snapshots()) == 2
    n_before = table.load().count()
    n_target = table.load().filter(F.col("pred") == "has_type").count()
    deleted = table.delete_where(F.col("pred") == "has_type")
    assert deleted == n_target > 0
    remaining = table.load()
    assert remaining.count() == n_before - n_target
    assert remaining.filter(F.col("pred") == "has_type").count() == 0
    # lineage counts were rewritten to match
    assert sum(li["n_rows"] for li in table.lineage()) == n_before - n_target
    assert all("deletes" in li for li in table.lineage())


def test_resume_survives_snapshot_retention(spark, tmp_path):
    """Squashing old snapshot history must not forget which urls were
    processed: after expire, a rerun over the full corpus is still a
    no-op, a corpus extension processes only the delta, and the current
    triple view is unchanged."""
    root = str(tmp_path / "t")
    p1 = datagen.generate_web_pages(spark, 10, seed=14, partitions=2)
    p2 = datagen.generate_web_pages(spark, 20, seed=14, partitions=2)
    p3 = datagen.generate_web_pages(spark, 26, seed=14, partitions=2)
    run_to_snapshot(spark, p1, root)
    run_to_snapshot(spark, p2, root)
    m3 = run_to_snapshot(spark, p3, root)
    # p3's plan shapes are p2's: the session's codegen cache still holds
    # their classes, so the batch compiles next to nothing (with Spark's
    # 100-entry cache it recompiles ~166)
    assert m3["codegen_compiles"] <= 16
    table = SnapshotTable(spark, root)
    before = sorted(
        map(tuple, table.load().select(*TRIPLE_COLS, "url").collect())
    )

    stats = table.squash_snapshots(keep_last=1)
    assert stats["squashed"] == 2 and table.snapshots() == [2, 3]
    assert sorted(
        map(tuple, table.load().select(*TRIPLE_COLS, "url").collect())
    ) == before

    # full-corpus rerun after retention: nothing reprocessed
    again = run_to_snapshot(spark, p3, root)
    assert again == {"resumed": True, "n_docs": 0, "n_triples": 0}

    # corpus extension: only the 4 new docs process
    p4 = datagen.generate_web_pages(spark, 30, seed=14, partitions=2)
    delta = run_to_snapshot(spark, p4, root)
    assert delta["n_docs"] == 4
