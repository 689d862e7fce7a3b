"""Snapshot file layout and commit-time schemas (io/snapshots.py).

Every bucketed write goes through one writer that rebalances rows by
``bucket``, so a small commit is one file per populated bucket; readers
take the schema lineage recorded at commit instead of running a footer
schema-inference job. These tests pin both halves of that contract, the
single-writer rule in the source, and ``append(count_where=...)``.
"""

from __future__ import annotations

import ast
import contextlib
import hashlib
import json
import os
import uuid

from pyspark.sql import functions as F

from search_spark.io.snapshots import SnapshotTable

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

COLS = ["subj", "pred", "obj", "prov", "url"]
BATCH_1 = [
    (f"e{i}", "p" if i % 2 else "q", f"o{i}", f"s{i}", f"http://u{i % 17}")
    for i in range(60)
]
BATCH_2 = [
    (f"e{i}", "p", f"o{i}", f"s{i}", f"http://u{i % 23}")
    for i in range(60, 90)
]


@contextlib.contextmanager
def job_group(spark):
    """Run the block under a fresh job group; yields a callable that
    returns the ids of the jobs the block launched so far."""
    sc = spark.sparkContext
    group = f"layout-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        yield lambda: sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _bucket_file_counts(path: str) -> dict[str, int]:
    return {
        d: sum(f.endswith(".parquet") for f in os.listdir(f"{path}/{d}"))
        for d in os.listdir(path)
        if d.startswith("bucket=")
    }


def _inferred(table: SnapshotTable, as_of: int | None = None):
    """What footer inference reads for the same snapshots: the reader
    the table used before schemas were taken from lineage."""
    snaps = [k for k in table.snapshots() if as_of is None or k <= as_of]
    paths = [
        p
        for k in snaps
        if os.path.isdir(p := f"{table.root}/data/snapshot={k}")
    ]
    return (
        table.spark.read.option("basePath", f"{table.root}/data")
        .option("mergeSchema", "true")
        .parquet(*paths)
    )


def _assert_same_as_inferred(table: SnapshotTable, as_of=None):
    got = table.load(as_of=as_of)
    ref = _inferred(table, as_of=as_of)
    assert got.columns == ref.columns
    assert got.schema.simpleString() == ref.schema.simpleString()
    key = lambda r: tuple(str(v) for v in r)  # noqa: E731
    assert sorted(got.collect(), key=key) == sorted(ref.collect(), key=key)
    return got


def _strip_recorded_schemas(table: SnapshotTable, ids) -> None:
    """Rewrite lineage as a snapshot committed before schema recording."""
    for k in ids:
        path = f"{table.root}/_lineage/snapshot={k}.json"
        with open(path) as f:
            lineage = json.load(f)
        del lineage["schema"]
        with open(path, "w") as f:
            json.dump(lineage, f)


# -- writer ------------------------------------------------------------------


def test_append_writes_one_file_per_populated_bucket(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "kg"), n_buckets=8)
    df = spark.createDataFrame(BATCH_1, COLS).repartition(6)
    info = t.append(df)
    counts = _bucket_file_counts(f"{t.root}/data/snapshot=1")
    populated = {p["bucket"] for p in t.lineage()[0]["partitions"]}
    assert {f"bucket={b}" for b in populated} == set(counts)
    assert set(counts.values()) == {1}
    assert info.n_rows == len(BATCH_1)


def test_copy_on_write_rewrites_keep_one_file_per_bucket(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "kg"), n_buckets=8)
    t.append(spark.createDataFrame(BATCH_1, COLS).repartition(6))
    t.append(spark.createDataFrame(BATCH_2, COLS).repartition(6))
    t.append(spark.createDataFrame(BATCH_2, COLS).repartition(3))
    assert t.delete_where(F.col("subj") == "e1") == 1
    assert set(_bucket_file_counts(f"{t.root}/data/snapshot=1").values()) == {1}
    t.squash_snapshots(keep_last=1)
    assert set(_bucket_file_counts(f"{t.root}/data/snapshot=2").values()) == {1}
    assert t.load().count() == len(BATCH_1) - 1 + 2 * len(BATCH_2)


# -- reader ------------------------------------------------------------------


def test_load_and_processed_urls_launch_no_footer_job(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "kg"), n_buckets=4)
    batch = spark.createDataFrame(BATCH_1, COLS)
    t.append(batch, processed_keys=batch)
    t.append(spark.createDataFrame(BATCH_2, COLS), processed_keys=batch)
    with job_group(spark) as jobs:
        df = t.load()
        done = t.processed_urls()
        at1 = t.load(as_of=1)
        assert jobs() == []
    assert df.count() == len(BATCH_1) + len(BATCH_2)
    assert done.count() == 17
    assert at1.count() == len(BATCH_1)


def test_load_matches_footer_inference_single_schema(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "kg"), n_buckets=4)
    t.append(spark.createDataFrame(BATCH_1, COLS))
    t.append(spark.createDataFrame(BATCH_2, COLS))
    got = _assert_same_as_inferred(t)
    assert got.columns == COLS + ["snapshot", "bucket"]
    _assert_same_as_inferred(t, as_of=1)


def test_load_matches_footer_inference_with_tombstone(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "kg"), n_buckets=4)
    t.append(spark.createDataFrame(BATCH_1[:5], COLS))
    t.append(spark.createDataFrame(BATCH_2, COLS))
    t.delete_where(F.col("subj").isin([r[0] for r in BATCH_1[:5]]))
    assert t.lineage()[0].get("tombstone")
    _assert_same_as_inferred(t)


def test_load_matches_footer_inference_mixed_schema(spark, tmp_path):
    """A column added by a later snapshot: the recorded union puts it
    after the older columns, reads NULL for older rows, and keeps
    non-string types."""
    t = SnapshotTable(spark, str(tmp_path / "kg"), n_buckets=4)
    t.append(spark.createDataFrame(BATCH_1, COLS))
    wide = spark.createDataFrame(
        [(*r, 0.5, [r[0], r[2]]) for r in BATCH_2],
        "subj string, pred string, obj string, prov string, url string,"
        " confidence double, terms array<string>",
    )
    t.append(wide)
    got = _assert_same_as_inferred(t)
    assert got.columns == COLS + ["confidence", "terms", "snapshot", "bucket"]
    by_subj = {r.subj: r for r in got.collect()}
    assert by_subj["e0"].confidence is None
    assert by_subj["e60"].terms == ["e60", "o60"]
    assert "confidence" not in t.load(as_of=1).columns


def test_load_matches_footer_inference_legacy_snapshots(spark, tmp_path):
    """Snapshots committed before schema recording still read through
    footer inference (merged when one of several lacks a record)."""
    t = SnapshotTable(spark, str(tmp_path / "kg"), n_buckets=4)
    t.append(spark.createDataFrame(BATCH_1, COLS))
    t.append(
        spark.createDataFrame(
            [(*r, 0.5) for r in BATCH_2], COLS + ["confidence"]
        )
    )
    _strip_recorded_schemas(t, [1])
    got = _assert_same_as_inferred(t)
    assert "confidence" in got.columns
    _strip_recorded_schemas(t, [2])
    _assert_same_as_inferred(t)
    _assert_same_as_inferred(t, as_of=1)


# -- ingest read-back ----------------------------------------------------------


def test_append_count_where_stays_out_of_lineage(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "kg"), n_buckets=4)
    info = t.append(
        spark.createDataFrame(BATCH_1, COLS),
        count_where={"n_p": F.col("pred") == "p", "n_none": F.lit(False)},
    )
    assert info.counts == {"n_p": 30, "n_none": 0}
    lineage = t.lineage()[0]
    assert "counts" not in lineage
    assert list(lineage) == [
        "snapshot_id", "table", "n_rows", "n_urls", "wall_seconds", "extra",
        "partitions", "schema",
    ]
    assert all(
        set(p) == {"bucket", "n_rows", "n_urls"} for p in lineage["partitions"]
    )
    assert sum(p["n_rows"] for p in lineage["partitions"]) == len(BATCH_1)


# -- source guards -------------------------------------------------------------


def _bucket_partition_writes(path: str) -> list[tuple[int, str | None]]:
    """(line, enclosing function) of every ``.partitionBy("bucket")``."""
    tree = ast.parse(open(path, encoding="utf-8").read(), path)
    calls = []

    def visit(node, func):
        for child in ast.iter_child_nodes(node):
            name = func
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                name = child.name
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "partitionBy"
                and any(
                    isinstance(a, ast.Constant) and a.value == "bucket"
                    for a in child.args
                )
            ):
                calls.append((child.lineno, name))
            visit(child, name)

    visit(tree, None)
    return calls


def test_bucketed_writes_only_in_the_writer_helper():
    offenders = []
    for root, _dirs, names in os.walk(os.path.join(REPO, "search_spark")):
        for n in sorted(names):
            if not n.endswith(".py"):
                continue
            path = os.path.join(root, n)
            rel = os.path.relpath(path, REPO)
            for line, func in _bucket_partition_writes(path):
                if rel == os.path.join("search_spark", "io", "snapshots.py") and (
                    func == "_write_bucketed"
                ):
                    continue
                offenders.append(f"{rel}:{line}")
    assert not offenders, (
        'partitionBy("bucket") outside SnapshotTable._write_bucketed: '
        + ", ".join(offenders)
    )


def test_landmark_oracle_sql_is_unchanged():
    """Both landmark oracles build on one shared CTE prefix; their SQL at
    the default arguments is pinned byte for byte."""
    from search_spark import queries

    digest = lambda s: hashlib.sha256(s.encode()).hexdigest()  # noqa: E731
    assert digest(queries._landmark_closeness_oracle_sql()) == (
        "8e75ba84a124397904e0d5d40cf68026ac585ccd471bd61bc18f499b4e0ee1a5"
    )
    assert digest(queries._hop_plot_oracle_sql()) == (
        "6a67ec423ac50cfa2025d74a45dcda5324751d03a577ea255b2de5b971272b6b"
    )
