"""North-rule launch contract: the pipeline must run via
``spark-submit --py-files dist/adding_datasets_to_kg_spark.zip`` (the
reference's deployment analog is the Neptune bulk-load scripts; ours is the
cluster-submit path in jobs/run_kg_pipeline.py).

The job script is copied OUT of the repo before launch: its sys.path insert
then points at an empty directory, so the package import genuinely resolves
from the --py-files zip — a missing file in package_pyfiles.py or an
import that only works from the repo root fails here and nowhere else.
"""

import json
import os
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_spark_submit_pyfiles_launch(tmp_path):
    zip_path = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "package_pyfiles.py")],
        check=True, capture_output=True, text=True,
    ).stdout.strip()
    assert zip_path.endswith(".zip") and os.path.exists(zip_path)

    script = tmp_path / "run_kg_pipeline.py"
    shutil.copy(os.path.join(REPO, "jobs", "run_kg_pipeline.py"), script)
    out_dir = tmp_path / "kg_out"

    proc = subprocess.run(
        [
            "spark-submit", "--master", "local[4]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.ui.enabled=false",
            "--py-files", zip_path,
            str(script),
            "--synthetic-turns", "1000",
            "--output", str(out_dir),
            "--buckets", "2",
        ],
        capture_output=True, text=True, timeout=280,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]

    # the job prints the metadata JSON as its last stdout line
    md = json.loads(proc.stdout.strip().splitlines()[-1])
    assert md["node_count"] > 0 and md["edge_count"] > 0
    assert md["dangling_edge_count"] == 0

    # durable artifacts land under --output
    for artifact in ("goldenKG_metadata.json", "kg_nodes", "kg_edges", "_checkpoints"):
        assert (out_dir / artifact).exists(), artifact
    disk_md = json.loads((out_dir / "goldenKG_metadata.json").read_text())
    assert disk_md["node_count"] == md["node_count"]
    assert disk_md["edge_count"] == md["edge_count"]
