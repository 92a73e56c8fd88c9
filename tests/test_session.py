"""`session.get_spark` under each launcher: spark-submit's --master and plain
Python's local[*] size the session, and the engine's decode semantics and
codegen cache size hold on the spark-submit path too. Each case runs in its
own process, since one process holds only one SparkContext."""

import json
import os
import subprocess
import sys
from pathlib import Path

import pyspark

ROOT = Path(__file__).resolve().parent.parent
SPARK_SUBMIT = str(Path(pyspark.__file__).parent / "bin" / "spark-submit")

PROBE = """
import json
from neocrawler_spark.session import get_spark
spark = get_spark("probe")
print("PROBE " + json.dumps({
    "master": spark.sparkContext.master,
    "parallelism": spark.sparkContext.defaultParallelism,
    "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    "coding_error_action": spark.conf.get("spark.sql.legacy.codingErrorAction"),
    "codegen_cache": spark.conf.get("spark.sql.codegen.cache.maxEntries"),
    "decoded": spark.sql("SELECT decode(X'FF41', 'utf-8') AS s").first()["s"],
}))
"""


def _env() -> dict:
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    env["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else []))
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    return env


def _run(cmd: list[str], cwd: Path) -> subprocess.CompletedProcess:
    res = subprocess.run(cmd, cwd=cwd, env=_env(), capture_output=True, text=True,
                         timeout=600)
    assert res.returncode == 0, res.stderr[-3000:]
    return res


def _tagged(stdout: str, tag: str) -> dict:
    line = next(l for l in stdout.splitlines() if l.startswith(tag + " "))
    return json.loads(line[len(tag) + 1:])


def test_spark_submit_master_wins(tmp_path):
    probe = tmp_path / "probe.py"
    probe.write_text(PROBE)
    got = _tagged(_run([SPARK_SUBMIT, "--master", "local[1]", str(probe)], tmp_path).stdout,
                  "PROBE")
    assert got["master"] == "local[1]"
    assert got["shuffle_partitions"] == "1"
    assert got["coding_error_action"] == "true"
    assert got["codegen_cache"] == "1024"
    assert "�" in got["decoded"]


def test_plain_python_sized_by_cores(tmp_path):
    got = _tagged(_run([sys.executable, "-c", PROBE], tmp_path).stdout, "PROBE")
    cores = len(os.sched_getaffinity(0))
    assert got["parallelism"] == cores
    assert got["shuffle_partitions"] == str(cores)


def test_run_rounds_under_spark_submit(tmp_path):
    res = _run([SPARK_SUBMIT, "--master", "local[1]", str(ROOT / "scripts" / "run_rounds.py"),
                "--warehouse", str(tmp_path / "wh"), "--rounds", "1",
                "--synth-scale", "1,1,1,1,1"], tmp_path)
    summary = json.loads(res.stdout.strip().splitlines()[-1])
    assert summary["rounds"] == 1
    assert summary["urls_processed"] > 0
