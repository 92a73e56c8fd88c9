"""Snapshot table layer: partitioned Parquet + atomic JSON manifests.

The north_rule requires Iceberg-style state checkpointing (resumable,
per-partition lineage + metrics). The sandbox has no Iceberg runtime jar, so
this module implements the same *contract* with plain Parquet:

* a table = a directory of immutable snapshot file-sets
* a manifest per snapshot: file list with per-file rows/bytes, parent
  snapshot id (lineage), write/scan timings
* commit = write-files → write-manifest → atomic rename of the CURRENT
  pointer (readers only ever follow CURRENT, so a crash mid-commit leaves the
  previous snapshot intact — the resume guarantee)
* append = new manifest referencing parent files + new files (no rewrite)
* reads go through the manifest's explicit file list, so time-travel /
  rollback is `set_current(name, snap)`

All commits share one private path (`Catalog._snapshot`); the public writers
only fill the new snapshot's directory. Only this module knows the file
layout: callers get partition values from `new_files` and the `stage_*`
methods. Swap-in path for a real cluster: an Iceberg catalog.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path
from urllib.parse import unquote

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as _fn
from pyspark.sql import types as T

# the directory value Spark writes for a null or empty partition value
_HIVE_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"
_ARROW = {"integer": pa.int32(), "long": pa.int64(), "string": pa.string(),
          "double": pa.float64(), "boolean": pa.bool_()}


def _hive_partition(path: str | Path, base: str | Path) -> dict:
    """Partition values of a data file under `base` in hive layout: its
    `col=value` directory segments below `base`, with Spark's escaping
    undone and the default-partition token read as None."""
    out = {}
    for seg in Path(path).relative_to(base).parts[:-1]:
        col, eq, val = seg.partition("=")
        if eq:
            out[col] = None if val == _HIVE_DEFAULT_PARTITION else unquote(val)
    return out


def _scan_paths(paths: list[Path]) -> list[dict]:
    """Footer scan: rows and bytes of each parquet file."""
    def one(p: Path) -> dict:
        meta = pq.ParquetFile(p).metadata
        return {"path": str(p), "rows": meta.num_rows, "bytes": p.stat().st_size}

    if len(paths) <= 4:
        return [one(p) for p in paths]
    with ThreadPoolExecutor(max_workers=16) as pool:
        return list(pool.map(one, paths))


def _atomic_write(path: Path, text: str) -> None:
    tmp = path.with_suffix(f".tmp-{uuid.uuid4().hex}")
    tmp.write_text(text)
    os.replace(tmp, path)


class Catalog:
    def __init__(self, root: str | Path):
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)

    # ------------------------------------------------------------- paths
    def _tdir(self, name: str) -> Path:
        return self.root / name

    def _manifest_path(self, name: str, snap: int) -> Path:
        return self._tdir(name) / "_manifests" / f"{snap:012d}.json"

    def _current_path(self, name: str) -> Path:
        return self._tdir(name) / "CURRENT"

    def _stage_dir(self, round_no: int, *name: str) -> Path:
        return Path(self.root, "_stages", f"r{round_no:08d}", *name)

    # ----------------------------------------------------------- snapshots
    def current_snapshot(self, name: str) -> int | None:
        p = self._current_path(name)
        return int(p.read_text().strip()) if p.exists() else None

    def set_current(self, name: str, snap: int) -> None:
        """Atomic pointer swap (rollback / resume)."""
        _atomic_write(self._current_path(name), str(snap))

    def manifest(self, name: str, snap: int | None = None) -> dict | None:
        if snap is None:
            snap = self.current_snapshot(name)
        if snap is None:
            return None
        mp = self._manifest_path(name, snap)
        return json.loads(mp.read_text()) if mp.exists() else None

    def new_files(self, name: str) -> list[dict]:
        """The files the current snapshot of `name` added, each with its
        hive partition values under "partition" ({} when unpartitioned)."""
        m = self.manifest(name)
        if m is None:
            return []
        return [{**f, "partition": _hive_partition(f["path"], self._tdir(name))}
                for f in m["files"][len(m["files"]) - m["n_new_files"]:]]

    # --------------------------------------------------------------- read
    def read(self, spark: SparkSession, name: str, schema: T.StructType) -> DataFrame:
        m = self.manifest(name)
        if m is None or not m["files"]:
            # one slice: createDataFrame parallelizes into defaultParallelism
            # EMPTY partitions, so every consumer stage of an empty table read
            # pays a cores-wide task launch for nothing
            from .. import schema as _schema_mod
            return _schema_mod.local_df(spark, [], schema)
        return spark.read.schema(schema).parquet(*[f["path"] for f in m["files"]])

    # -------------------------------------------------------------- commit
    def _snapshot(self, name: str, mode: str, round_no: int | None, write,
                  replaced_partitions: dict[str, list] | None = None) -> int:
        """The one commit path: allocate snapshot parent+1, empty its `snap-N`
        dir, let `write(data_dir)` fill it, footer-scan the new files, carry
        the parent's files per `mode`, write the manifest, swap CURRENT.

        mode='overwrite'  — snapshot is exactly the new files.
        mode='append'     — snapshot = parent files + new files.
        mode='overwrite-partitions' with replaced_partitions={'col': [v,...]}
          — parent files whose partition value ∉ list, + new files (the
          MERGE-touches-only-dirty-buckets path: untouched bucket files are
          carried by reference, never rewritten).

        The dir is emptied first because ids are re-used: after a crash,
        `restore_round` points CURRENT back at the last completed round, and
        the next commit allocates the crashed attempt's id again.
        """
        if mode not in ("overwrite", "append", "overwrite-partitions"):
            raise ValueError(f"unknown commit mode: {mode}")
        tdir = self._tdir(name)
        (tdir / "_manifests").mkdir(parents=True, exist_ok=True)
        parent = self.current_snapshot(name)
        snap = (parent or 0) + 1
        data_dir = tdir / f"snap-{snap:012d}"
        shutil.rmtree(data_dir, ignore_errors=True)
        data_dir.mkdir()
        t0 = time.time()
        write(data_dir)
        t1 = time.time()
        new_files = _scan_paths(sorted(data_dir.rglob("*.parquet")))
        t2 = time.time()
        kept = self.manifest(name, parent)["files"] if parent and mode != "overwrite" else []
        if kept and mode == "overwrite-partitions":
            (col, vals), = replaced_partitions.items()
            vals = {v if v is None else str(v) for v in vals}
            kept = [f for f in kept if _hive_partition(f["path"], tdir).get(col) not in vals]
        files = kept + new_files
        man = {"table": name, "snapshot": snap, "parent": parent, "round": round_no,
               "mode": mode, "write_ms": int((t1 - t0) * 1000),
               "scan_ms": int((t2 - t1) * 1000), "n_new_files": len(new_files),
               "files": files, "total_rows": sum(f["rows"] for f in files),
               "total_bytes": sum(f["bytes"] for f in files),
               "new_rows": sum(f["rows"] for f in new_files)}
        _atomic_write(self._manifest_path(name, snap), json.dumps(man))
        self.set_current(name, snap)
        return snap

    def commit(
        self,
        name: str,
        df: DataFrame,
        mode: str = "overwrite",
        round_no: int | None = None,
        partition_by: list[str] | None = None,
        replaced_partitions: dict[str, list] | None = None,
        split_col: str | None = None,
        files_per_partition: int = 1,
    ) -> int:
        """Write df with Spark as a new snapshot (modes: see `_snapshot`)."""
        if partition_by:
            # cluster rows so each partition value lands in a BOUNDED number
            # of files: without this, a partitioned write fans out
            # shuffle_partitions × values files, and the per-file costs (the
            # footer scan here, file listing on every read) grow with core
            # count. files_per_partition > 1 + split_col salts hot partition
            # values across up to that many writer tasks, so one hot bucket
            # is neither a single giant file nor a single writer.
            cols = [_fn.col(c) for c in partition_by]
            if split_col and files_per_partition > 1:
                cols.append(_fn.pmod(_fn.crc32(_fn.col(split_col).cast("string")),
                                     _fn.lit(files_per_partition)))
            df = df.repartition(*cols)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)

        def write(data_dir: Path) -> None:
            sc = df.sparkSession.sparkContext
            sc.setJobDescription(f"commit:{name}")
            writer.parquet(str(data_dir))
            sc.setJobDescription(None)

        return self._snapshot(name, mode, round_no, write, replaced_partitions)

    def commit_files(
        self,
        name: str,
        file_paths: list[str | Path],
        mode: str = "overwrite",
        round_no: int | None = None,
    ) -> int:
        """Manifest-only commit: adopt ALREADY-WRITTEN parquet files (e.g. a
        partition of an intra-round stage) as a new snapshot — no Spark job.
        Files are hardlinked into the snapshot dir (copy fallback), so the
        snapshot survives `drop_stages`. When a sink is a pure row-subset of
        a stage partitioned on the subset predicate, its commit is this
        driver-side link + footer scan (Iceberg: manifest reuse of unchanged
        data files). Adopted files may carry EXTRA physical columns (stages
        hold working columns); `read(schema)` projects the declared ones.
        """
        def write(data_dir: Path) -> None:
            for i, src in enumerate(sorted(str(p) for p in file_paths)):
                dst = data_dir / f"adopt-{i:05d}.parquet"
                try:
                    os.link(src, dst)
                except OSError:
                    shutil.copy2(src, dst)

        return self._snapshot(name, mode, round_no, write)

    def commit_rows(
        self,
        name: str,
        rows: list[tuple],
        schema: T.StructType,
        mode: str = "append",
        round_no: int | None = None,
    ) -> int:
        """Driver-side commit of a TINY row set (config-sized — e.g. one
        round's metrics rollup, O(domains×statuses) rows) via pyarrow: no
        Spark job at all. Schema is the table's Spark StructType, mapped to
        arrow so `read(schema)` round-trips exactly."""
        arrow_schema = pa.schema(
            [(f.name, _ARROW[f.dataType.typeName()]) for f in schema.fields]
        )
        cols = list(zip(*rows)) if rows else [[] for _ in schema.fields]
        table = pa.Table.from_arrays(
            [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow_schema)],
            schema=arrow_schema,
        )
        return self._snapshot(name, mode, round_no,
                              lambda d: pq.write_table(table, d / "part-00000.parquet"))

    # ------------------------------------------------------------- stages
    def stage(self, spark: SparkSession, round_no: int, name: str, df: DataFrame,
              partition_by: list[str] | None = None,
              shuffle: bool = True) -> DataFrame:
        """Materialize an intra-round intermediate to parquet and return a
        reader over it. This cuts the round's DAG at stage boundaries: every
        downstream job sees `Scan parquet` instead of the full upstream
        lineage, so task binaries stay KB-sized, codegen compiles small
        stages, and nothing is ever recomputed. (Spark does NOT dedupe common
        subtrees across actions/branches — measured: a persist/count-barrier
        version of this round spent ~20,000 task-CPU-seconds re-evaluating
        and re-deserializing nested cached plans for ~300s of real work.)

        Stages are transient (no manifest): resume replays the whole round
        from the last committed snapshot, so stage files never need recovery.
        """
        path = self._stage_dir(round_no, name)
        spark.sparkContext.setJobDescription(f"stage:{name}")
        if partition_by:
            # partitioned stage: its partition values are read driver-side
            # from the directory names (stage_partition_values, no job), and
            # a value's files can be adopted into a snapshot with no job
            # (stage_partition_files → commit_files). shuffle=False keeps the
            # upstream partitioning (each task writes ≤|values| files): for
            # LOW-cardinality columns, clustering would collapse the write to
            # |values| tasks and serialize a wave.
            w = df.repartition(*[_fn.col(c) for c in partition_by]) if shuffle else df
            w.write.mode("overwrite").partitionBy(*partition_by).parquet(str(path))
        else:
            df.write.mode("overwrite").parquet(str(path))
        spark.sparkContext.setJobDescription(None)
        # read back with the writer's schema: a partitioned write of an EMPTY
        # frame (e.g. a converged round with no updates) leaves zero data
        # files, and schema inference would fail on the bare directory
        return spark.read.schema(df.schema).parquet(str(path))

    def stage_partition_files(self, round_no: int, name: str,
                              **partition_values) -> list[Path]:
        """Data files of a stage whose parsed partition values equal the
        given ones (all files when none are given), listed driver-side —
        the input to `commit_files`."""
        base = self._stage_dir(round_no, name)
        want = {k: v if v is None else str(v) for k, v in partition_values.items()}
        return [p for p in sorted(base.rglob("*.parquet"))
                if all(_hive_partition(p, base).get(k) == v for k, v in want.items())]

    def stage_rows(self, round_no: int, name: str, **partition_values) -> int:
        """Row count of a stage (or one partition of it) from parquet
        footers, driver-side — no Spark job. Lets the round skip whole
        commit/append jobs whose input is provably empty."""
        paths = self.stage_partition_files(round_no, name, **partition_values)
        return sum(f["rows"] for f in _scan_paths(paths))

    def stage_partition_values(self, round_no: int, name: str) -> list[dict]:
        """Distinct partition-value combos of a partitioned stage, parsed
        from its hive-style directory names — no Spark job."""
        base = self._stage_dir(round_no, name)
        out = []
        for p in sorted(base.rglob("*.parquet")):
            pv = _hive_partition(p, base)
            if pv and pv not in out:
                out.append(pv)
        return out

    def drop_stages(self, round_no: int) -> None:
        shutil.rmtree(self._stage_dir(round_no), ignore_errors=True)

    # ------------------------------------------------------------ round log
    def commit_round(self, round_no: int, snapshots: dict[str, int], metrics: dict) -> None:
        """Mark a round complete: records every table's snapshot id so resume
        restores a mutually-consistent view of all state tables."""
        rdir = self.root / "_rounds"
        rdir.mkdir(exist_ok=True)
        _atomic_write(rdir / f"{round_no:08d}.json",
                      json.dumps({"round": round_no, "snapshots": snapshots, "metrics": metrics}))

    def last_completed_round(self) -> dict | None:
        files = sorted((self.root / "_rounds").glob("*.json"))
        return json.loads(files[-1].read_text()) if files else None

    def restore_round(self, round_info: dict) -> None:
        """Point every table's CURRENT at the snapshots of a completed round
        (discards any partially-committed later round — crash resume)."""
        for name, snap in round_info["snapshots"].items():
            self.set_current(name, snap)
