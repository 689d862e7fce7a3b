"""Snapshot-based table layout with lineage rows and anti-join resume.

Production target is Iceberg (``df.writeTo("cat.db.triples").append()``,
partitioned by ``bucket(N, url)``); this sandbox has no Iceberg runtime jar
(re-probed each round — round 4, 2026-08-21: zero ``iceberg`` matches in
the Spark jars dir, no ``pyiceberg``, no ivy cache; jar download is not
permitted), so the same contract is implemented over parquet directories:

    <root>/data/snapshot=<k>/...            (parquet, bucketed by url hash)
    <root>/_lineage/snapshot=<k>.json       (per-partition lineage + metrics)

Semantics preserved from the reference and required by the north rule:

  * **idempotent restart**: the reference re-mines by DELETE-then-repopulate
    per entity type (mining_cache.py:291-302) and resumes embeddings by
    scanning unpopulated H5 rows (utils.py:335-371). Here: a restart
    anti-joins the input against the set of already-processed ``url``s
    recorded in committed snapshots and only processes the remainder.
  * **per-partition lineage rows**: one row per url-hash bucket per snapshot
    with document/mention/triple counts and throughput (north rule:
    "checkpoint-resumable per Iceberg snapshot with per-partition lineage
    rows and metrics").

Layout contract:

  * **one file per populated bucket per commit.** Every bucketed write
    (``append``, the copy-on-write rewrites behind ``delete_where`` /
    ``delete_matching``, ``squash_snapshots`` and ``compact``) goes through
    :meth:`SnapshotTable._write_bucketed`, which rebalances rows by
    ``bucket`` before the partitioned write. AQE coalesces a small commit
    so each bucket lands whole in one writer task, and splits a bucket
    larger than ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` across
    several writers, so a big batch keeps parallel writers and a hot
    bucket does not become one straggler task.
  * **readers take the schema from lineage.** Each commit records its data
    schema in the lineage JSON; ``load()`` hands the union of the selected
    snapshots' schemas to the reader, so no read launches a footer
    schema-inference job. Snapshots that predate schema recording (or two
    snapshots that give one column different types) fall back to footer
    inference, with ``mergeSchema`` when the snapshots may disagree.

Swapping this module for real Iceberg changes only the write/commit calls —
the pipeline sees the same ``load / processed_urls / append`` interface.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import asdict, dataclass, field

from pyspark.sql import Column, DataFrame, DataFrameReader, SparkSession
from pyspark.sql import functions as F

#: partition/layout columns excluded from the lineage-recorded schema
_LAYOUT_COLS = ("bucket", "snapshot")


def _data_schema(df: DataFrame) -> list[list[str]]:
    """Normalized ``[[name, type], ...]`` for lineage: the data columns
    only, so schemas recorded pre-bucketing (append) and from a
    partitioned read-back (squash) compare equal."""
    return [
        [f.name, f.dataType.simpleString()]
        for f in df.schema.fields
        if f.name not in _LAYOUT_COLS
    ]


def _ddl(schema: list[list[str]], layout: tuple[str, ...]) -> str:
    """DDL for a recorded data schema plus ``int`` layout columns — the
    types partition discovery infers for ``snapshot=<k>/bucket=<b>``."""
    cols = [*schema, *([c, "int"] for c in layout)]
    return ", ".join(
        "`{}` {}".format(name.replace("`", "``"), typ) for name, typ in cols
    )


def _partitions(per_bucket: list) -> list[dict]:
    """Lineage ``partitions`` rows: the per-bucket counts only."""
    return [
        {k: r[k] for k in ("bucket", "n_rows", "n_urls")} for r in per_bucket
    ]


def _zordered(lineage: dict, zorder: list[str]) -> bool:
    """True when the snapshot's files are still Z-ordered by ``zorder``:
    its latest compaction recorded those columns and no delete rewrote
    it since."""
    compactions = lineage.get("compactions") or [{}]
    last = compactions[-1]
    if last.get("zorder_by") != zorder:
        return False
    deletes = lineage.get("deletes") or []
    return not any(d["at"] > last["at"] for d in deletes)


def _zorder_key(df: DataFrame, zorder: list[str]) -> Column:
    """The Morton key over ``zorder``: numeric columns min/max-scaled into
    the curve's 16-bit domain (one stats job), strings hashed to 16 bits."""
    from pyspark.sql.types import NumericType

    from search_spark.operators.layout import zorder_key

    fields = {f.name: f.dataType for f in df.schema.fields}
    num_cols = [c for c in zorder if isinstance(fields[c], NumericType)]
    stats = (
        df.agg(
            *[
                agg
                for c in num_cols
                for agg in (
                    F.min(c).alias(f"__mn_{c}"),
                    F.max(c).alias(f"__mx_{c}"),
                )
            ]
        ).first()
        if num_cols
        else {}
    )
    dims = []
    for c in zorder:
        if c in num_cols:
            # min/max-scale into the 16-bit curve domain so per-file stats
            # bound the REAL values (range skipping); a hash would scatter
            # them
            mn = float(stats[f"__mn_{c}"])
            span = (float(stats[f"__mx_{c}"]) - mn) or 1.0
            dims.append(
                F.floor(
                    (F.col(c) - F.lit(mn)) * F.lit(65535.0 / span)
                ).cast("bigint")
            )
        else:
            dims.append(F.xxhash64(F.col(c)).bitwiseAND(F.lit(0xFFFF)))
    return zorder_key(dims)


N_BUCKETS_DEFAULT = 64


@dataclass
class SnapshotInfo:
    snapshot_id: int
    table: str
    n_rows: int
    n_urls: int
    wall_seconds: float
    extra: dict
    #: totals of ``append(count_where=...)``; not written to lineage
    counts: dict = field(default_factory=dict)


class SnapshotTable:
    """A parquet-backed table with snapshot commits and lineage."""

    def __init__(self, spark: SparkSession, root: str, n_buckets: int = N_BUCKETS_DEFAULT):
        self.spark = spark
        self.root = root.rstrip("/")
        self.n_buckets = n_buckets
        os.makedirs(f"{self.root}/_lineage", exist_ok=True)

    # -- read ------------------------------------------------------------
    def snapshots(self) -> list[int]:
        lineage_dir = f"{self.root}/_lineage"
        ids = []
        for name in os.listdir(lineage_dir):
            if name.startswith("snapshot=") and name.endswith(".json"):
                ids.append(int(name[len("snapshot="):-len(".json")]))
        return sorted(ids)

    def load(self, as_of: int | None = None) -> DataFrame | None:
        """Read the table; ``as_of`` time-travels to the state after
        snapshot ``as_of`` committed (Iceberg ``VERSION AS OF``) — only
        data from snapshots with id ≤ ``as_of`` is visible. Reproducing
        a training run against the exact KG state it was built from is a
        read-side filter on the snapshot list, no data movement."""
        snaps = self.snapshots()
        if as_of is not None:
            snaps = [k for k in snaps if k <= as_of]
        if not snaps:
            return None
        # a snapshot fully emptied by delete_where keeps its lineage JSON
        # (tombstone) but has no data directory — skip it on read
        paths = [
            p
            for k in snaps
            if os.path.isdir(p := f"{self.root}/data/snapshot={k}")
        ]
        if not paths:
            return None
        return (
            self._reader(snaps, ("snapshot", "bucket"))
            .option("basePath", f"{self.root}/data")
            .parquet(*paths)
        )

    def _reader(
        self, snaps: list[int], layout: tuple[str, ...]
    ) -> DataFrameReader:
        """A parquet reader for the data of ``snaps``, whose files carry
        the ``layout`` partition columns. Iceberg schema-evolution
        analogue: with every schema recorded at commit, the reader gets
        their union and runs no footer job; a column added later reads
        NULL in older snapshots. Otherwise it infers from footers, with
        ``mergeSchema`` only when the snapshots may disagree."""
        schema = self._recorded_schema(snaps)
        if schema is not None:
            return self.spark.read.schema(_ddl(schema, layout))
        if self._needs_schema_merge(snaps):
            return self.spark.read.option("mergeSchema", "true")
        return self.spark.read

    def _lineage_json(self, k: int) -> dict | None:
        try:
            with open(f"{self.root}/_lineage/snapshot={k}.json") as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def _recorded_schema(self, snaps: list[int]) -> list[list[str]] | None:
        """Union of the lineage-recorded data schemas of ``snaps``, oldest
        first — the column order footer inference gives. ``None`` when a
        snapshot predates schema recording or two snapshots record one
        column with different types. Tombstones hold no data and are
        skipped."""
        cols: dict[str, str] = {}
        for k in snaps:
            j = self._lineage_json(k)
            if j is not None and j.get("tombstone"):
                continue
            if j is None or j.get("schema") is None:
                return None
            for name, typ in j["schema"]:
                if cols.setdefault(name, typ) != typ:
                    return None
        return [[name, typ] for name, typ in cols.items()]

    def _needs_schema_merge(self, snaps: list[int]) -> bool:
        """True when the selected snapshots' lineage-recorded schemas
        differ, or any of ≥2 snapshots predates schema recording."""
        if len(snaps) < 2:
            return False
        schemas = []
        for k in snaps:
            j = self._lineage_json(k)
            if j is None:
                schemas.append(None)
                continue
            if j.get("tombstone"):
                # A tombstone squash contributes no data paths, so its
                # (absent) schema is irrelevant to the read.
                continue
            schemas.append(j.get("schema"))
        if any(s is None for s in schemas):
            return True
        # Column ORDER may differ between append-time and squash
        # read-back schemas; only name/type disagreements matter.
        uniq = {json.dumps(sorted(s)) for s in schemas}
        return len(uniq) > 1

    def processed_urls(self) -> DataFrame | None:
        """Distinct processed urls across committed snapshots (anti-join resume).

        Read from the ``processed/`` sidecar (written at commit time from the
        *input* batch, not the output) so that documents which legitimately
        produced zero triples are still marked done and never reprocessed.
        """
        return self._processed_urls(self.snapshots())

    def _processed_urls(self, snaps: list[int]) -> DataFrame | None:
        paths = [
            p
            for k in snaps
            if os.path.isdir(p := f"{self.root}/processed/snapshot={k}")
        ]
        if not paths:
            return None
        # the sidecar's schema is fixed, so no footer job infers it
        return (
            self.spark.read.schema("url string, snapshot int")
            .option("basePath", f"{self.root}/processed")
            .parquet(*paths)
            .select("url")
            .distinct()
        )

    def match_triples(
        self,
        subj: str | None = None,
        pred: str | None = None,
        obj: str | None = None,
        url: str | None = None,
        as_of: int | None = None,
    ) -> DataFrame | None:
        """Triple-pattern lookup: any combination of bound terms.

        The serving analogue of a triple-store point query over the
        materialized KG. A bound ``url`` prunes to its hash bucket
        *before* the scan — the reader lists only ``bucket=K`` of the
        ``n_buckets`` partition directories (Iceberg ``bucket(N, url)``
        partition pruning), so a provenance probe touches 1/N of a
        100-TB table. ``subj``/``pred``/``obj`` equality terms push down
        to the parquet row-group filters (``PushedFilters`` in the
        plan). Unbound terms stay wildcards. ``as_of`` probes the KG as
        of that snapshot (time travel).
        """
        df = self.load(as_of=as_of)
        if df is None:
            return None
        if url is not None:
            df = df.filter(
                F.col("bucket")
                == F.pmod(F.xxhash64(F.lit(url)), F.lit(self.n_buckets))
            ).filter(F.col("url") == url)
        for col, val in (("subj", subj), ("pred", pred), ("obj", obj)):
            if val is not None:
                df = df.filter(F.col(col) == val)
        return df

    def lineage(self) -> list[dict]:
        return [self._lineage_json(k) for k in self.snapshots()]

    # -- write -----------------------------------------------------------
    def append(
        self,
        df: DataFrame,
        extra_metrics: dict | None = None,
        processed_keys: DataFrame | None = None,
        count_where: dict[str, Column] | None = None,
    ) -> SnapshotInfo:
        """Write one snapshot: url-hash-bucketed parquet + lineage JSON.

        The bucket column is ``pmod(xxhash64(url), n_buckets)`` — the
        Iceberg ``bucket(N, url)`` analogue; it both balances writers and
        gives downstream readers a co-location key.

        ``count_where`` maps names to boolean conditions; the read-back
        that yields the lineage counts also counts the written rows
        matching each, into ``SnapshotInfo.counts`` (never into lineage).
        """
        snapshot_id = (self.snapshots() or [0])[-1] + 1
        t0 = time.time()
        bucketed = df.withColumn(
            "bucket", F.pmod(F.xxhash64("url"), F.lit(self.n_buckets))
        )
        path = f"{self.root}/data/snapshot={snapshot_id}"
        # self-healing commit protocol: a crash between the data write
        # and the lineage-JSON rename leaves an UNCOMMITTED dir at
        # exactly this id (the commit point is the rename; snapshots()
        # never saw it). A restart must overwrite that debris, not
        # error on it — the kill/rerun resumability path
        # (tools/resume_probe.py). Committed ids can never be hit here
        # (snapshot_id > every committed id by construction).
        for debris in (path, f"{self.root}/processed/snapshot={snapshot_id}"):
            if os.path.isdir(debris):
                shutil.rmtree(debris)
        self._write_bucketed(bucketed, path, "errorifexists")
        if processed_keys is not None:
            processed_keys.select("url").distinct().write.mode(
                "errorifexists"
            ).parquet(f"{self.root}/processed/snapshot={snapshot_id}")
        wall = time.time() - t0

        schema = _data_schema(df)
        counts = count_where or {}
        per_bucket = self._bucket_stats(
            self.spark.read.schema(_ddl(schema, ("bucket",))).parquet(path),
            *(F.count_if(cond).alias(name) for name, cond in counts.items()),
        )
        info = SnapshotInfo(
            snapshot_id=snapshot_id,
            table=self.root,
            n_rows=sum(r["n_rows"] for r in per_bucket),
            n_urls=sum(r["n_urls"] for r in per_bucket),
            wall_seconds=wall,
            extra=extra_metrics or {},
            counts={n: sum(r[n] for r in per_bucket) for n in counts},
        )
        lineage = {
            **asdict(info),
            "partitions": _partitions(per_bucket),
            # commit-time schema (Iceberg metadata analogue) — readers
            # take it instead of inferring one from parquet footers
            "schema": schema,
        }
        del lineage["counts"]
        # atomic rename = the commit point (Iceberg metadata-swap analogue)
        self._commit_lineage(snapshot_id, lineage)
        return info

    def _write_bucketed(
        self,
        df: DataFrame,
        path: str,
        mode: str,
        sort_by: list[Column] | None = None,
    ) -> None:
        """The one bucketed writer behind every snapshot directory.

        The rebalance hint shuffles rows by ``bucket``: AQE coalesces a
        small commit so each populated bucket is one file, and splits a
        bucket larger than the advisory partition size across writers.
        ``sort_by`` orders rows within each file after that shuffle,
        behind ``bucket`` (the partitioned writer needs ``bucket`` first
        and would otherwise add its own bucket-only sort)."""
        out = df.hint("rebalance", "bucket")
        if sort_by:
            out = out.sortWithinPartitions(F.col("bucket"), *sort_by)
        out.write.partitionBy("bucket").mode(mode).parquet(path)

    @staticmethod
    def _bucket_stats(written: DataFrame, *aggs: Column) -> list:
        """One grouped collect over a written snapshot: per-bucket row
        and url counts (plus ``aggs``) for its lineage."""
        return (
            written.groupBy("bucket")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.countDistinct("url").alias("n_urls"),
                *aggs,
            )
            .collect()
        )

    def _commit_lineage(self, k: int, lineage: dict) -> None:
        """Write snapshot ``k``'s lineage JSON by atomic rename."""
        tmp = f"{self.root}/_lineage/.snapshot={k}.json.tmp"
        with open(tmp, "w") as f:
            json.dump(lineage, f, indent=2, default=str)
        os.rename(tmp, f"{self.root}/_lineage/snapshot={k}.json")

    def delete_where(self, condition: Column) -> int:
        """Copy-on-write ``DELETE WHERE`` — the Iceberg
        ``overwritePartitions`` / DELETE analogue of the reference's
        delete-then-repopulate restart (mining_cache.py:291-302).

        Every committed snapshot is rewritten without the matching rows
        (full write to a sibling temp dir, then directory swap — readers
        never observe a half-deleted snapshot); lineage JSONs are updated
        with recomputed counts plus a ``deletes`` audit entry. Returns the
        number of rows deleted. ``processed/`` markers are untouched: a
        redo re-mines content, it does not forget which urls were seen.
        """
        # SQL DELETE WHERE removes only rows where the predicate is
        # definitively TRUE; NULL-predicate rows are retained (the bare
        # ~condition would silently drop them)
        return self._rewrite_without(
            lambda df: df.filter(~F.coalesce(condition, F.lit(False)))
        )

    def delete_matching(
        self, keys: DataFrame, on: tuple[str, ...] = ("subj", "pred", "obj")
    ) -> int:
        """Join-based copy-on-write delete: remove every row whose ``on``
        columns match a row of ``keys`` — the Iceberg ``MERGE ... WHEN
        MATCHED THEN DELETE`` analogue, and the executor for templated
        SPARQL ``DELETE { ... } WHERE { ... }`` (where the doomed triples
        are derived, not enumerable as one predicate).

        ``keys`` is deduplicated and eagerly pinned first
        (``checkpoints.truncate`` — strategy-switchable):
        the rewrite loop swaps the very directories a lazily-planned
        ``keys`` built from this table would re-read mid-loop. Each
        snapshot is then rewritten via ``LEFT ANTI`` join (AQE broadcasts
        query-sized key sets; bigger ones shuffle — either way no driver
        collect). Rows with a NULL in any join column never match an anti
        join, so they are retained, consistent with
        :meth:`delete_where`'s NULL-predicate rule. Returns rows deleted.
        """
        from search_spark.checkpoints import truncate

        keys = truncate(keys.select(*on).distinct(), eager=True)
        return self._rewrite_without(
            lambda df: df.join(keys, on=list(on), how="left_anti")
        )

    def _rewrite_without(self, transform) -> int:
        """Shared copy-on-write loop for :meth:`delete_where` /
        :meth:`delete_matching`: rewrite each committed snapshot as
        ``transform(df)`` (which must only drop rows), swap directories
        atomically, and update lineage with recomputed counts plus a
        ``deletes`` audit entry."""
        total = 0
        for k in self.snapshots():
            path = f"{self.root}/data/snapshot={k}"
            if not os.path.isdir(path):
                continue  # already tombstoned by a previous delete
            reader = self._reader([k], ("bucket",))
            df = reader.parquet(path)
            n_before = df.count()
            remaining = transform(df)
            n_after = remaining.count()
            if n_after == n_before:
                continue
            if n_after == 0:
                # a partitioned write of an empty DataFrame emits only
                # _SUCCESS (unreadable: UNABLE_TO_INFER_SCHEMA on read-back)
                # — drop the data directory instead and tombstone the
                # lineage below; load()/processed_urls() skip missing dirs.
                # Triggered by e.g. running redo_entity_type twice for the
                # same type (the second redo empties the first's snapshot).
                shutil.rmtree(path)
                per_bucket = []
            else:
                tmp = f"{self.root}/data/.snapshot={k}.rewrite"
                if os.path.exists(tmp):
                    shutil.rmtree(tmp)
                # the write materializes fully from the old files before
                # the swap below removes them
                self._write_bucketed(remaining, tmp, "overwrite")
                shutil.rmtree(path)
                os.rename(tmp, path)
                per_bucket = self._bucket_stats(reader.parquet(path))
            total += n_before - n_after

            lineage = self._lineage_json(k)
            lineage["n_rows"] = sum(r["n_rows"] for r in per_bucket)
            lineage["partitions"] = _partitions(per_bucket)
            if not per_bucket:
                lineage["tombstone"] = True
            lineage.setdefault("deletes", []).append(
                {"n_deleted": n_before - n_after, "at": time.time()}
            )
            self._commit_lineage(k, lineage)
        return total

    def squash_snapshots(self, keep_last: int = 5) -> dict:
        """Snapshot retention — the Iceberg ``expire_snapshots``
        analogue adapted to this append-only layout: every snapshot
        older than the ``keep_last`` newest is rewritten into ONE base
        snapshot (the newest of the expired range). At 100-TB scale an
        unbounded snapshot count is what kills scan planning — every
        read unions every snapshot directory — so retention bounds the
        directory count without touching recent history.

        Row content, the current view, and resume state are fully
        preserved: the squashed data is re-bucketed into the base
        directory, the ``processed/`` url markers merge into the base
        sidecar, and the base lineage JSON records summed counts plus a
        ``squashed_ids`` audit trail (the expired lineage files are
        removed). What is deliberately given up — exactly Iceberg's
        trade — is time travel to points *inside* the squashed range:
        ``as_of`` an expired id now returns only data committed at or
        before it that survives in the base (i.e. nothing below the
        base id). Uses the same write-to-sibling-then-swap protocol as
        :meth:`delete_where` so readers never observe a half-squashed
        table. Returns ``{"squashed", "base_id", "n_rows"}``.
        """
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        snaps = self.snapshots()
        old = snaps[:-keep_last] if len(snaps) > keep_last else []
        if len(old) < 2:
            return {"squashed": 0, "base_id": None, "n_rows": 0}
        base_id = old[-1]

        data_paths = [
            p
            for k in old
            if os.path.isdir(p := f"{self.root}/data/snapshot={k}")
        ]
        per_bucket: list = []
        n_rows = n_urls = 0
        if data_paths:
            df = (
                self._reader(old, ("snapshot", "bucket"))
                .option("basePath", f"{self.root}/data")
                .parquet(*data_paths)
                .drop("snapshot")
            )
            schema = _data_schema(df)
            tmp = f"{self.root}/data/.snapshot={base_id}.squash"
            if os.path.exists(tmp):
                shutil.rmtree(tmp)
            self._write_bucketed(df, tmp, "overwrite")
            for k in old:
                p = f"{self.root}/data/snapshot={k}"
                if os.path.isdir(p):
                    shutil.rmtree(p)
            os.rename(tmp, f"{self.root}/data/snapshot={base_id}")
            per_bucket = self._bucket_stats(
                self.spark.read.schema(_ddl(schema, ("bucket",))).parquet(
                    f"{self.root}/data/snapshot={base_id}"
                )
            )
            n_rows = sum(r["n_rows"] for r in per_bucket)
            n_urls = sum(r["n_urls"] for r in per_bucket)

        merged_urls = self._processed_urls(old)
        if merged_urls is not None:
            tmp_p = f"{self.root}/processed/.snapshot={base_id}.squash"
            if os.path.exists(tmp_p):
                shutil.rmtree(tmp_p)
            merged_urls.write.mode("overwrite").parquet(tmp_p)
            for k in old:
                p = f"{self.root}/processed/snapshot={k}"
                if os.path.isdir(p):
                    shutil.rmtree(p)
            os.rename(tmp_p, f"{self.root}/processed/snapshot={base_id}")

        lineage = {
            "snapshot_id": base_id,
            "table": self.root,
            "n_rows": n_rows,
            "n_urls": n_urls,
            "wall_seconds": 0.0,
            "extra": {},
            "partitions": _partitions(per_bucket),
            "squashed_ids": list(old),
            "squashes": [{"at": time.time(), "keep_last": keep_last}],
        }
        if per_bucket:
            lineage["schema"] = schema
        if not per_bucket:
            lineage["tombstone"] = True
        self._commit_lineage(base_id, lineage)
        for k in old[:-1]:
            p = f"{self.root}/_lineage/snapshot={k}.json"
            if os.path.exists(p):
                os.remove(p)
        return {"squashed": len(old), "base_id": base_id, "n_rows": n_rows}

    def _data_files(self, path: str) -> list[str]:
        out = []
        for dirpath, _, files in os.walk(path):
            out.extend(
                os.path.join(dirpath, f)
                for f in files
                if f.endswith(".parquet")
            )
        return out

    def compact(
        self,
        min_files_per_bucket: int = 2,
        zorder_by: list[str] | None = None,
    ) -> dict:
        """Layout rewrite — the Iceberg ``rewrite_data_files`` analogue.
        Commits already write one file per populated bucket (see
        :meth:`_write_bucketed`), so compaction is left with three jobs:

        * **Z-order** a snapshot (``zorder_by``, below);
        * **legacy snapshots**, written before the rebalanced writer with
          one file per writer task per bucket;
        * **split buckets**: a bucket that outgrew the advisory partition
          size at commit is written by several tasks; a rewrite merges
          them once it fits (after a delete, or under a larger advisory
          size).

        Without ``zorder_by``, each committed snapshot whose data spans
        more than ``min_files_per_bucket × n_buckets`` files is
        rewritten. With it, each snapshot whose latest ``compactions``
        entry does not record the same ``zorder_by`` (or that a delete
        rewrote since) is rewritten, whatever its file count. Rewrites
        use the same write-to-sibling-then-swap protocol as
        :meth:`delete_where` so readers never observe a half-compacted
        snapshot. Row content, snapshot boundaries, and time travel are
        all preserved — only the file layout changes; lineage gains a
        ``compactions`` audit entry. Returns ``{"snapshots_compacted",
        "files_before", "files_after"}``.

        ``zorder_by`` clusters each rewritten file by the Z-order
        (Morton) curve over the named columns — the ``OPTIMIZE ZORDER
        BY`` analogue. Numeric columns are min/max-scaled into the
        curve's 16-bit domain, so per-file min/max statistics bound them
        and RANGE predicates skip files. String columns are hashed to
        16-bit keys: equal values still cluster into few files (equality
        workloads benefit), but a hash preserves no string ORDER, so
        min/max stats on a string column cannot prune ranges — list
        numerics when range skipping is the goal.
        """
        zorder = list(zorder_by) if zorder_by else None
        snapshots_compacted = 0
        files_before = files_after = 0
        for k in self.snapshots():
            path = f"{self.root}/data/snapshot={k}"
            if not os.path.isdir(path):
                continue
            before = self._data_files(path)
            files_before += len(before)
            lineage = self._lineage_json(k)
            if zorder:
                stale = bool(before) and not _zordered(lineage, zorder)
            else:
                n_buckets_present = len(
                    [d for d in os.listdir(path) if d.startswith("bucket=")]
                )
                stale = len(before) > min_files_per_bucket * n_buckets_present
            if not stale:
                files_after += len(before)
                continue
            df = self._reader([k], ("bucket",)).parquet(path)
            tmp = f"{self.root}/data/.snapshot={k}.compact"
            if os.path.exists(tmp):
                shutil.rmtree(tmp)
            sort_by = [_zorder_key(df, zorder)] if zorder else None
            self._write_bucketed(df, tmp, "overwrite", sort_by=sort_by)
            shutil.rmtree(path)
            os.rename(tmp, path)
            after = self._data_files(path)
            files_after += len(after)
            snapshots_compacted += 1

            lineage.setdefault("compactions", []).append(
                {
                    "files_before": len(before),
                    "files_after": len(after),
                    "zorder_by": zorder,
                    "at": time.time(),
                }
            )
            self._commit_lineage(k, lineage)
        return {
            "snapshots_compacted": snapshots_compacted,
            "files_before": files_before,
            "files_after": files_after,
        }

    # -- retention maintenance (Iceberg expire_snapshots /
    #    remove_orphan_files analogues) ----------------------------------

    def expire(self, keep_last: int = 5, sweep_orphans: bool = True) -> dict:
        """Bound the table's history — the Iceberg ``expire_snapshots``
        entry point. Two steps:

        1. :meth:`squash_snapshots` merges every snapshot older than the
           ``keep_last`` newest into one base snapshot (directory count,
           and with it scan-planning cost, stays O(keep_last) no matter
           how long the table lives).
        2. ``remove_orphans`` (unless disabled) sweeps files no
           committed snapshot references — the debris a crashed
           ``append``/``compact``/``squash``/``delete_where`` leaves
           behind (sibling temp dirs, ``.json.tmp`` metadata,
           ``_temporary`` task dirs, data dirs whose lineage is gone).

        Without this, the copy-on-write history accumulates forever: at
        100-TB scale, every orphaned sibling directory is a full copy of
        a snapshot's data. Returns the squash stats merged with the
        orphan sweep stats.
        """
        stats = self.squash_snapshots(keep_last=keep_last)
        if sweep_orphans:
            stats.update(self.remove_orphans())
        return stats

    def remove_orphans(self, older_than_s: float = 0.0) -> dict:
        """Delete files under the table root that no committed snapshot
        references — the Iceberg ``remove_orphan_files`` analogue.

        Orphans arise from interrupted operations: ``append`` dies after
        writing data but before the lineage-JSON commit rename;
        ``compact``/``squash_snapshots``/``_rewrite_without`` die between
        writing the sibling temp dir and the swap; Spark's committer
        leaves ``_temporary`` attempt dirs inside a snapshot on task
        retry crashes. All are invisible to readers (load() resolves
        through lineage ids) but hold real bytes.

        Swept, relative to the committed lineage set:

        * ``data/``・``processed/`` entries that are not
          ``snapshot=<committed id>`` (dot-prefixed siblings, stray
          files, uncommitted snapshot dirs),
        * ``_temporary`` dirs and zero-value committer residue
          (``_SUCCESS``, ``.crc``) inside committed snapshot dirs,
        * ``_lineage/*.json.tmp`` half-written metadata.

        ``older_than_s`` guards against racing an in-flight writer
        (Iceberg's ``older_than`` timestamp): entries younger than this
        many seconds are left alone — production would pass hours, tests
        pass 0. Returns ``{"orphans_removed", "orphan_bytes"}``.
        """
        committed = set(self.snapshots())
        now = time.time()
        removed = 0
        nbytes = 0

        def _size(path: str) -> int:
            if os.path.isfile(path):
                return os.path.getsize(path)
            total = 0
            for dp, _, fs in os.walk(path):
                total += sum(
                    os.path.getsize(os.path.join(dp, f)) for f in fs
                )
            return total

        def _old_enough(path: str) -> bool:
            try:
                return now - os.path.getmtime(path) >= older_than_s
            except OSError:
                return False

        def _zap(path: str):
            nonlocal removed, nbytes
            if not _old_enough(path):
                return
            nbytes += _size(path)
            removed += 1
            if os.path.isdir(path):
                shutil.rmtree(path, ignore_errors=True)
            else:
                try:
                    os.remove(path)
                except OSError:
                    pass

        for sub in ("data", "processed"):
            base = f"{self.root}/{sub}"
            if not os.path.isdir(base):
                continue
            for name in os.listdir(base):
                path = os.path.join(base, name)
                if name.startswith("snapshot=") and os.path.isdir(path):
                    tail = name[len("snapshot="):]
                    if tail.isdigit() and int(tail) in committed:
                        # committed — sweep only committer residue inside
                        for dp, dns, fns in os.walk(path):
                            for d in list(dns):
                                if d == "_temporary":
                                    _zap(os.path.join(dp, d))
                                    dns.remove(d)
                            for f in fns:
                                if f == "_SUCCESS" or f.endswith(".crc"):
                                    _zap(os.path.join(dp, f))
                        continue
                _zap(path)
        lineage_dir = f"{self.root}/_lineage"
        if os.path.isdir(lineage_dir):
            for name in os.listdir(lineage_dir):
                if name.endswith(".json.tmp"):
                    _zap(os.path.join(lineage_dir, name))
        return {"orphans_removed": removed, "orphan_bytes": nbytes}
