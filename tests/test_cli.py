"""spark-submit entry-point regression: the crawl job CLI end to end.

One subprocess run covers the flags a cluster submission composes:
robots bodies (with an Allow override) + crawl-delay budgets +
checkpoint output. The CLI is the north_rule's submission surface, so a broken
flag is a broken deployment even when every operator test passes.
"""

import json
import os
import subprocess
import sys

from conftest import SF_SMALL


def test_crawl_job_cli_end_to_end(spark, tmp_path):
    robots = spark.createDataFrame(
        [(
            "h1.test",
            "User-agent: *\nDisallow: /a/\nAllow: /a/20240106/\n"
            "Crawl-delay: 10\n",
        )],
        "host string, robots_txt string",
    )
    rp = str(tmp_path / "robots")
    robots.write.parquet(rp)
    out_dir = str(tmp_path / "out")

    proc = subprocess.run(
        [
            sys.executable, "scripts/run_crawl_job.py",
            "--sf-dir", SF_SMALL, "--rounds", "3", "--hosts", "4",
            "--budget", "3", "--seeds", "4", "--out", out_dir,
            "--robots", rp, "--use-crawl-delays",
        ],
        capture_output=True,
        text=True,
        env={**os.environ, "SPARK_GRAFT_CPUS": "4"},
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        timeout=420,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    assert lines, proc.stderr[-3000:]
    summary = json.loads(lines[-1])
    assert summary["rounds"] == 3
    assert summary["urls_fetched"] > 0
    assert len(summary["lineage"]) == 3
    # the robots gate actually fired on discovered candidates
    assert sum(m["robots_blocked"] for m in summary["lineage"]) > 0

    fetched = spark.read.parquet(os.path.join(out_dir, "fetched"))
    assert fetched.count() == summary["urls_fetched"]
    # longest match: h1's only surviving discoveries sit under the Allow
    h1 = fetched.filter(
        "host = 'h1.test' AND round > 0"
    ).toPandas()
    assert all("/a/20240106/" in u for u in h1.url)
    # checkpoints exist for every round boundary (resumability)
    assert os.path.isdir(os.path.join(out_dir, "ckpt"))


def test_spark_submit_py_files_submission(tmp_path):
    """The north_rule's literal submission shape: `spark-submit
    --py-files nc_spark.zip scripts/run_crawl_job.py`. The entry
    script is COPIED outside the repo and run with a cwd that does
    not contain the package, so the import can only be satisfied by
    the zip shipped via --py-files — exactly what reaches executors
    on a real cluster."""
    import shutil
    import zipfile

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spark_submit = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
    if not os.path.exists(spark_submit):
        import pytest
        pytest.skip("spark-submit not on this box")

    pkg_zip = tmp_path / "nc_spark.zip"
    pkg_root = os.path.join(repo, "news_combinator_spark")
    with zipfile.ZipFile(pkg_zip, "w") as zf:
        for dirpath, _dirs, files in os.walk(pkg_root):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    zf.write(full, os.path.relpath(full, repo))
    script = tmp_path / "run_crawl_job.py"
    shutil.copy(os.path.join(repo, "scripts", "run_crawl_job.py"), script)
    out_dir = str(tmp_path / "out")

    proc = subprocess.run(
        [
            spark_submit, "--master", "local[4]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--py-files", str(pkg_zip), str(script),
            "--sf-dir", SF_SMALL, "--rounds", "2", "--hosts", "4",
            "--budget", "3", "--seeds", "4", "--out", out_dir,
        ],
        capture_output=True,
        text=True,
        cwd=str(tmp_path),  # NOT the repo: the zip must supply the pkg
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
        timeout=420,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    assert lines, (proc.stdout[-2000:], proc.stderr[-3000:])
    summary = json.loads(lines[-1])
    assert summary["rounds"] == 2 and summary["urls_fetched"] > 0
