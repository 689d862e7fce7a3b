"""Snapshot time travel and small-file compaction (io/snapshots.py).

Time travel: load(as_of=k) must show exactly the data committed through
snapshot k (Iceberg VERSION AS OF). Compaction: rewriting a snapshot's
small files must change only the file layout — row content, snapshot
boundaries, time travel, and resume markers all survive.
"""

from __future__ import annotations

import contextlib

import pytest

from search_spark.io.snapshots import SnapshotTable

COLS = ["subj", "pred", "obj", "prov", "url"]

BATCH_1 = [
    (f"e{i}", "p" if i % 2 else "q", f"o{i}", f"s{i}", f"http://u{i}")
    for i in range(40)
]
BATCH_2 = [
    (f"e{i}", "p" if i % 2 else "q", f"o{i}", f"s{i}", f"http://u{i}")
    for i in range(40, 60)
]


@contextlib.contextmanager
def split_buckets(spark):
    """A tiny advisory partition size for the block: the bucketed writer's
    rebalance then splits every bucket across the upstream tasks, leaving
    several files per bucket directory — what a batch whose buckets
    outgrow the advisory size writes. The setting is restored after."""
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "1")
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


@pytest.fixture()
def table(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "kg"), n_buckets=4)
    with split_buckets(spark):
        t.append(spark.createDataFrame(BATCH_1, COLS))
        t.append(spark.createDataFrame(BATCH_2, COLS))
    return t


def _rows(df):
    return sorted(
        (r["subj"], r["pred"], r["obj"], r["url"]) for r in df.collect()
    )


def test_time_travel_load(table):
    assert table.load().count() == 60
    at1 = table.load(as_of=1)
    assert _rows(at1) == _rows(
        table.spark.createDataFrame(BATCH_1, COLS)
    )
    assert table.load(as_of=0) is None
    # as_of beyond the head is the current state
    assert table.load(as_of=99).count() == 60


def test_time_travel_match_triples(table):
    assert table.match_triples(pred="p", as_of=1).count() == 20
    assert table.match_triples(pred="p").count() == 30
    got = table.match_triples(url="http://u45", as_of=1)
    assert got.count() == 0


def test_compaction_preserves_content_and_history(table):
    before_all = _rows(table.load())
    before_at1 = _rows(table.load(as_of=1))
    stats = table.compact(min_files_per_bucket=1)
    assert stats["snapshots_compacted"] == 2
    assert stats["files_after"] < stats["files_before"]
    # one file per populated bucket directory after the rewrite
    for k in table.snapshots():
        path = f"{table.root}/data/snapshot={k}"
        files = table._data_files(path)
        import os

        n_buckets = len(
            [d for d in os.listdir(path) if d.startswith("bucket=")]
        )
        assert len(files) == n_buckets
    assert _rows(table.load()) == before_all
    assert _rows(table.load(as_of=1)) == before_at1
    audit = [
        entry
        for lin in table.lineage()
        for entry in lin.get("compactions", [])
    ]
    assert len(audit) == 2
    assert all(a["files_after"] < a["files_before"] for a in audit)


def test_compaction_is_idempotent(table):
    table.compact(min_files_per_bucket=1)
    second = table.compact(min_files_per_bucket=1)
    assert second["snapshots_compacted"] == 0
    assert second["files_before"] == second["files_after"]


def test_compaction_with_zorder_clusters_files(table, spark):
    """zorder_by compaction preserves content and leaves each rewritten
    file sorted by the Morton key of the named columns — the per-file
    min/max envelope property file-skipping relies on."""
    import os

    from pyspark.sql import functions as F

    from search_spark.operators.layout import zorder_key

    before_all = _rows(table.load())
    stats = table.compact(min_files_per_bucket=1, zorder_by=["subj", "obj"])
    assert stats["snapshots_compacted"] == 2
    assert _rows(table.load()) == before_all

    zk = zorder_key(
        [
            F.xxhash64(F.col(c)).bitwiseAND(F.lit(0xFFFF))
            for c in ["subj", "obj"]
        ]
    )
    checked = 0
    for k in table.snapshots():
        path = f"{table.root}/data/snapshot={k}"
        for f in table._data_files(path):
            zs = [
                r["z"]
                for r in spark.read.parquet(os.path.join(path, f))
                .select(zk.alias("z"))
                .collect()
            ]
            assert zs == sorted(zs)
            checked += 1
    assert checked > 0
    audit = [
        e
        for lin in table.lineage()
        for e in lin.get("compactions", [])
    ]
    assert all(a["zorder_by"] == ["subj", "obj"] for a in audit)


def test_zorder_compaction_rewrites_one_file_per_bucket_snapshots(
    table, spark
):
    """A Z-order request is not skipped because a snapshot already has
    one file per bucket: after a plain compaction, zorder_by rewrites
    both snapshots and every file comes out in Morton order; repeating
    the same request is a no-op."""
    import os

    from pyspark.sql import functions as F

    from search_spark.operators.layout import zorder_key

    before_all = _rows(table.load())
    assert table.compact(min_files_per_bucket=1)["snapshots_compacted"] == 2
    stats = table.compact(zorder_by=["subj", "obj"])
    assert stats["snapshots_compacted"] == 2
    assert _rows(table.load()) == before_all
    zk = zorder_key(
        [
            F.xxhash64(F.col(c)).bitwiseAND(F.lit(0xFFFF))
            for c in ["subj", "obj"]
        ]
    )
    checked = 0
    for k in table.snapshots():
        path = f"{table.root}/data/snapshot={k}"
        for f in table._data_files(path):
            zs = [
                r["z"]
                for r in spark.read.parquet(os.path.join(path, f))
                .select(zk.alias("z"))
                .collect()
            ]
            assert zs == sorted(zs)
            checked += 1
    assert checked > 0
    for lin in table.lineage():
        assert lin["compactions"][-1]["zorder_by"] == ["subj", "obj"]
    again = table.compact(zorder_by=["subj", "obj"])
    assert again["snapshots_compacted"] == 0
    # a delete rewrites the files, so the Z order must be redone
    table.delete_where(F.col("subj") == "e0")
    assert table.compact(zorder_by=["subj", "obj"])["snapshots_compacted"] == 1


def test_compaction_zorder_numeric_column_sorts_by_value(spark, tmp_path):
    """Numeric zorder_by columns are min/max-scaled, not hashed: rows in
    each rewritten file come out ordered by the actual value, so
    per-row-group min/max stats bound real ranges."""
    import os

    from search_spark.io.snapshots import SnapshotTable

    cols = ["subj", "pred", "obj", "prov", "url", "pos"]
    rows = [
        (f"e{i}", "p", f"o{i}", f"s{i}", f"http://u{i}", (i * 37) % 100)
        for i in range(60)
    ]
    t = SnapshotTable(spark, str(tmp_path / "kg"), n_buckets=4)
    with split_buckets(spark):
        t.append(spark.createDataFrame(rows, cols))
    t.compact(min_files_per_bucket=1, zorder_by=["pos"])

    checked = 0
    for k in t.snapshots():
        path = f"{t.root}/data/snapshot={k}"
        for f in t._data_files(path):
            ps = [
                r["pos"]
                for r in spark.read.parquet(os.path.join(path, f))
                .select("pos")
                .collect()
            ]
            assert ps == sorted(ps)
            checked += 1
    assert checked > 0


BATCH_3 = [
    (f"e{i}", "r", f"o{i}", f"s{i}", f"http://u{i}")
    for i in range(60, 70)
]
BATCH_4 = [
    (f"e{i}", "r", f"o{i}", f"s{i}", f"http://u{i}")
    for i in range(70, 75)
]


def test_squash_snapshots_preserves_view_and_resume(table):
    """Squashing history older than the newest keep_last snapshots must
    keep the current view, per-snapshot boundaries for recent ids, and
    the processed-url resume set bit-identical; time travel inside the
    squashed range is (documentedly) given up."""
    spark = table.spark
    table.append(
        spark.createDataFrame(BATCH_3, COLS),
        processed_keys=spark.createDataFrame(BATCH_3, COLS),
    )
    table.append(
        spark.createDataFrame(BATCH_4, COLS),
        processed_keys=spark.createDataFrame(BATCH_4, COLS),
    )
    before_all = _rows(table.load())
    before_at3 = _rows(table.load(as_of=3))
    stats = table.squash_snapshots(keep_last=2)
    assert stats == {"squashed": 2, "base_id": 2, "n_rows": 60}
    assert table.snapshots() == [2, 3, 4]
    assert _rows(table.load()) == before_all
    # as_of at/above the base still reconstructs exactly
    assert _rows(table.load(as_of=3)) == before_at3
    # inside the squashed range: nothing at or below the expired id
    assert table.load(as_of=1) is None
    # resume markers survive the merge (batches 3 and 4 carried keys)
    urls = {
        r["url"] for r in table.processed_urls().collect()
    }
    assert urls == {f"http://u{i}" for i in range(60, 75)}
    # lineage audit: base file carries the squashed ids, expired files gone
    import json as _json
    import os as _os

    with open(f"{table.root}/_lineage/snapshot=2.json") as f:
        lin = _json.load(f)
    assert lin["squashed_ids"] == [1, 2] and lin["n_rows"] == 60
    assert not _os.path.exists(f"{table.root}/_lineage/snapshot=1.json")


def test_squash_noop_when_history_short(table):
    assert table.squash_snapshots(keep_last=5) == {
        "squashed": 0, "base_id": None, "n_rows": 0,
    }
    assert table.snapshots() == [1, 2]


def test_cli_expire_subcommand(table):
    import json
    import os
    import subprocess
    import sys

    spark = table.spark
    table.append(spark.createDataFrame(BATCH_3, COLS))
    out = subprocess.run(
        [sys.executable, "tools/cli.py", "expire",
         "--snapshot", table.root, "--keep-last", "1"],
        capture_output=True, text=True, timeout=300, cwd="/root/repo",
        env={**os.environ, "SPARK_GRAFT_CPUS": "4"},
    )
    assert out.returncode == 0, out.stderr[-2000:]
    stats = json.loads(out.stdout.splitlines()[-1])
    assert stats["squashed"] == 2 and stats["base_id"] == 2
    assert table.snapshots() == [2, 3]
    assert table.load().count() == 70


def test_schema_evolution_merge_on_load(spark, tmp_path):
    """Lineage records each snapshot's data schema; load() turns on
    mergeSchema only when the selected snapshots actually disagree — the
    Iceberg schema-evolution analogue. A column added in a later
    snapshot surfaces with NULLs for earlier rows instead of being
    silently dropped by single-footer inference."""
    t = SnapshotTable(spark, str(tmp_path / "kg"), n_buckets=2)
    t.append(spark.createDataFrame(BATCH_1, COLS))
    wide = spark.createDataFrame(
        [(*row, 0.9) for row in BATCH_2], COLS + ["confidence"]
    )
    t.append(wide)

    out = t.load()
    assert "confidence" in out.columns
    by_subj = {r.subj: r for r in out.collect()}
    assert by_subj["e0"].confidence is None      # batch-1 row backfilled NULL
    assert by_subj["e40"].confidence == 0.9

    # single-schema selections stay on the no-merge fast path
    assert t._needs_schema_merge([1]) is False
    assert t._needs_schema_merge([1, 2]) is True
    assert "confidence" not in t.load(as_of=1).columns


def test_schema_merge_not_triggered_when_schemas_agree(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "kg"), n_buckets=2)
    t.append(spark.createDataFrame(BATCH_1, COLS))
    t.append(spark.createDataFrame(BATCH_2, COLS))
    assert t._needs_schema_merge([1, 2]) is False
    assert sorted(t.load().columns) == sorted(COLS + ["bucket", "snapshot"])


def test_cli_merge_subcommand(spark, tmp_path):
    """cli.py merge closes IFP sameAs links and materializes the
    consolidated KG into a new snapshot table."""
    import json
    import os
    import subprocess
    import sys

    t = SnapshotTable(spark, str(tmp_path / "src"), n_buckets=2)
    rows = [
        ("r1", "email", "a@x", "g", "http://1"),
        ("r2", "email", "a@x", "g", "http://2"),
        ("r2", "city", "Paris", "g", "http://2"),
        ("r3", "email", "b@x", "g", "http://3"),
    ]
    t.append(spark.createDataFrame(rows, COLS))
    out_root = str(tmp_path / "merged")
    res = subprocess.run(
        [sys.executable, "tools/cli.py", "merge",
         "--snapshot", t.root, "--output", out_root,
         "--preds", "email"],
        capture_output=True, text=True, timeout=300, cwd="/root/repo",
        env={**os.environ, "SPARK_GRAFT_CPUS": "4"},
    )
    assert res.returncode == 0, res.stderr[-2000:]
    info = json.loads(res.stdout.strip().splitlines()[-1])
    assert info["n_rows"] == 4 and info["n_sameas_pairs"] == 1

    merged = SnapshotTable(spark, out_root).load()
    subjs = {r.subj for r in merged.select("subj").collect()}
    assert subjs == {"r1", "r3"}  # r2 rewrote into r1's class
    assert {
        r.subj for r in merged.filter(merged.pred == "city").collect()
    } == {"r1"}


# -- retention: expire + orphan sweep (round 5) ------------------------------


def _mk_orphans(table):
    """Plant the debris every interrupted operation leaves behind."""
    import os

    root = table.root
    # crashed compact/squash: sibling temp dirs full of data
    os.makedirs(f"{root}/data/.snapshot=1.compact/bucket=0", exist_ok=True)
    with open(f"{root}/data/.snapshot=1.compact/bucket=0/part-0.parquet",
              "wb") as f:
        f.write(b"x" * 128)
    # crashed append: data dir with no lineage commit
    os.makedirs(f"{root}/data/snapshot=99/bucket=0", exist_ok=True)
    with open(f"{root}/data/snapshot=99/bucket=0/part-0.parquet",
              "wb") as f:
        f.write(b"y" * 256)
    # committer residue inside a committed snapshot
    os.makedirs(f"{root}/data/snapshot=1/_temporary/0", exist_ok=True)
    with open(f"{root}/data/snapshot=1/_SUCCESS", "w"):
        pass
    # half-written lineage metadata
    with open(f"{root}/_lineage/.snapshot=7.json.tmp", "w") as f:
        f.write("{")


def test_remove_orphans_sweeps_debris_only(table):
    import os

    before = _rows(table.load())
    _mk_orphans(table)
    # uncommitted snapshot=99 must be invisible to load() already
    assert _rows(table.load()) == before
    stats = table.remove_orphans()
    # 5 planted debris entries + the committer residue (_SUCCESS/.crc)
    # Spark's local writer leaves in every ordinary snapshot dir
    assert stats["orphans_removed"] >= 5
    assert stats["orphan_bytes"] >= 128 + 256
    root = table.root
    assert not os.path.exists(f"{root}/data/.snapshot=1.compact")
    assert not os.path.exists(f"{root}/data/snapshot=99")
    assert not os.path.exists(f"{root}/data/snapshot=1/_temporary")
    assert not os.path.exists(f"{root}/data/snapshot=1/_SUCCESS")
    assert not os.path.exists(f"{root}/_lineage/.snapshot=7.json.tmp")
    # committed data untouched, resume state intact
    assert _rows(table.load()) == before
    assert table.snapshots() == [1, 2]


def test_remove_orphans_age_guard(table):
    import os

    _mk_orphans(table)
    # everything just created → a 1h age guard removes nothing
    stats = table.remove_orphans(older_than_s=3600)
    assert stats["orphans_removed"] == 0
    assert os.path.exists(f"{table.root}/data/snapshot=99")
    # and a zero guard then sweeps it
    assert table.remove_orphans()["orphans_removed"] >= 5


def test_expire_squashes_and_sweeps(table, spark):
    import os

    table.append(spark.createDataFrame(BATCH_3, COLS))
    _mk_orphans(table)
    before = _rows(table.load())
    stats = table.expire(keep_last=1)
    assert stats["squashed"] == 2 and stats["base_id"] == 2
    assert stats["orphans_removed"] >= 4  # squash removed lineage=1 →
    # snapshot=1's residue dirs were inside a dir squash deleted, or
    # swept here; the uncommitted + tmp debris must be gone regardless
    root = table.root
    assert not os.path.exists(f"{root}/data/snapshot=99")
    assert not os.path.exists(f"{root}/_lineage/.snapshot=7.json.tmp")
    assert _rows(table.load()) == before
    assert table.snapshots() == [2, 3]
