"""Catalog.commit_files (stage-file adoption) and commit_rows (driver-side
pyarrow commit): manifest contract, hardlink survival after drop_stages,
schema-projected reads over adopted files carrying extra columns, escaped
stage partition values, and snapshot ids re-used after a crashed round."""

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from neocrawler_spark.sources.tables import Catalog

SCHEMA = T.StructType([
    T.StructField("k", T.StringType(), False),
    T.StructField("v", T.LongType(), False),
])


def _write_parquet(path, rows):
    tbl = pa.table({"k": [r[0] for r in rows], "v": [r[1] for r in rows],
                    "extra": [1.5] * len(rows)})
    pq.write_table(tbl, path)


def test_commit_files_adopts_and_survives_stage_drop(spark, tmp_path):
    cat = Catalog(tmp_path / "wh")
    # stage lookups match parsed values: Spark escapes `news:cn` in the
    # directory name and writes a null value as the default partition
    for part, rows in [("p=news%3Acn", [("a", 1), ("b", 2)]),
                       ("p=__HIVE_DEFAULT_PARTITION__", [("c", 3)])]:
        stage_dir = cat.root / "_stages" / "r00000001" / "x" / part
        stage_dir.mkdir(parents=True)
        _write_parquet(stage_dir / "f1.parquet", rows)
    assert sorted(cat.stage_partition_values(1, "x"), key=str) == [
        {"p": "news:cn"}, {"p": None}]
    assert cat.stage_rows(1, "x", p=None) == 1
    files = cat.stage_partition_files(1, "x", p="news:cn")
    assert len(files) == 1
    snap = cat.commit_files("t", files, round_no=1)
    assert snap == 1
    man = cat.manifest("t")
    assert man["total_rows"] == 2 and man["n_new_files"] == 1
    # dropping the stage must not invalidate the snapshot (hardlinked)
    cat.drop_stages(1)
    got = sorted(tuple(r) for r in cat.read(spark, "t", SCHEMA).collect())
    # extra physical column is invisible through the schema-projected read
    assert got == [("a", 1), ("b", 2)]


def test_commit_files_append_keeps_parent(spark, tmp_path):
    cat = Catalog(tmp_path / "wh")
    d = tmp_path / "ext"
    d.mkdir()
    _write_parquet(d / "a.parquet", [("a", 1)])
    _write_parquet(d / "b.parquet", [("b", 2)])
    cat.commit_files("t", [d / "a.parquet"])
    cat.commit_files("t", [d / "b.parquet"], mode="append")
    got = sorted(tuple(r) for r in cat.read(spark, "t", SCHEMA).collect())
    assert got == [("a", 1), ("b", 2)]
    # empty adoption is a valid (possibly empty-delta) snapshot
    cat.commit_files("t", [], mode="append")
    assert cat.read(spark, "t", SCHEMA).count() == 2


def test_commit_rows_roundtrip(spark, tmp_path):
    cat = Catalog(tmp_path / "wh")
    cat.commit_rows("m", [("x", 1), ("y", 2)], SCHEMA, mode="append")
    cat.commit_rows("m", [("z", 3)], SCHEMA, mode="append")
    got = sorted(tuple(r) for r in cat.read(spark, "m", SCHEMA).collect())
    assert got == [("x", 1), ("y", 2), ("z", 3)]
    # empty row set keeps the schema readable
    cat.commit_rows("m2", [], SCHEMA)
    assert cat.read(spark, "m2", SCHEMA).count() == 0


def test_snapshot_ids_reused_after_crash(spark, tmp_path):
    """A round that crashed before commit_round leaves snapshots behind, and
    after restore_round the retry allocates the same ids again. Each writer's
    retry snapshot must hold only the retry's files, on top of round 1's."""
    cat = Catalog(tmp_path / "wh")
    ext = tmp_path / "ext"
    ext.mkdir()
    for k in "abxyz":
        _write_parquet(ext / f"{k}.parquet", [(k, 0)])

    def commit_all(round_no, keys):
        df = spark.createDataFrame([(k, 0) for k in keys], SCHEMA)
        return {
            "spark": cat.commit("spark", df.withColumn("p", F.col("k")), mode="append",
                                round_no=round_no, partition_by=["p"]),
            "files": cat.commit_files("files", [ext / f"{k}.parquet" for k in keys],
                                      mode="append", round_no=round_no),
            "rows": cat.commit_rows("rows", [(k, 0) for k in keys], SCHEMA,
                                    round_no=round_no),
        }

    cat.commit_round(1, commit_all(1, "a"), {})
    crashed = commit_all(2, "xyz")  # no commit_round: the round crashed
    cat.restore_round(cat.last_completed_round())
    retry = commit_all(2, "b")
    assert retry == crashed  # the ids were re-used
    for name, snap in retry.items():
        assert sorted(r["k"] for r in cat.read(spark, name, SCHEMA).collect()) == ["a", "b"]
        man = cat.manifest(name)
        snap_dir = cat.root / name / f"snap-{snap:012d}"
        new = [f["path"] for f in man["files"] if f["path"].startswith(str(snap_dir))]
        assert sorted(new) == sorted(str(p) for p in snap_dir.rglob("*.parquet"))
        assert man["n_new_files"] == len(new) == 1 and man["new_rows"] == 1
        assert man["total_rows"] == 2
