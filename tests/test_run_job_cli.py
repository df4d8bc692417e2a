"""End-to-end drive of the north-rule launch path: spark-submit
--py-files linkgraph.zip jobs/run_job.py, kill-free resume via
--run-id. (The API-level resume is pinned in test_pregel.py; this
covers the actual CLI + zip + spark-submit packaging.)"""

import json
import subprocess
import zipfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def _zip_linkgraph(tmp_path: Path) -> Path:
    z = tmp_path / "linkgraph.zip"
    with zipfile.ZipFile(z, "w") as zf:
        for p in (REPO / "linkgraph").rglob("*.py"):
            zf.write(p, p.relative_to(REPO))
    return z


def _submit(zip_path, ckpt_dir, iterations, run_id="clirun", job="pagerank"):
    out = subprocess.run(
        [
            "spark-submit", "--master", "local[4]",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.ui.showConsoleProgress=false",
            "--py-files", str(zip_path),
            str(REPO / "jobs" / "run_job.py"),
            "--job", job, "--sf-dir", "/root/testdata/sf0.001",
            "--checkpoint-dir", str(ckpt_dir), "--run-id", run_id,
            "--iterations", str(iterations),
        ],
        capture_output=True, text=True, timeout=420,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    recs = [
        json.loads(ln) for ln in out.stdout.splitlines() if ln.startswith("{")
    ]
    return next(r for r in recs if "counters" in r)


def test_spark_submit_pagerank_and_resume(tmp_path):
    z = _zip_linkgraph(tmp_path)
    ck = tmp_path / "ck"
    first = _submit(z, ck, iterations=2)
    assert first["counters"][-1]["superstep"] == 2
    # re-launch with more iterations: resumes from superstep 2, only
    # the remaining supersteps run (counters continue, don't restart)
    second = _submit(z, ck, iterations=4)
    assert second["counters"][-1]["superstep"] == 4
    supersteps = [c["superstep"] for c in second["counters"]]
    assert supersteps == sorted(supersteps)
    # the snapshot dir holds exactly supersteps 0..4
    done = sorted(
        int(p.name.split("=")[1]) for p in (ck / "clirun").glob("superstep=*")
    )
    assert done == [0, 1, 2, 3, 4]


def test_spark_submit_lpa_resumes(tmp_path):
    """--job lpa runs the durable kernel: its counters are printed and a
    re-launch with more iterations continues from the last snapshot."""
    z = _zip_linkgraph(tmp_path)
    ck = tmp_path / "ck"
    first = _submit(z, ck, iterations=1, run_id="lparun", job="lpa")
    assert first["counters"][-1]["superstep"] == 1
    second = _submit(z, ck, iterations=2, run_id="lparun", job="lpa")
    assert [c["superstep"] for c in second["counters"]] == [0, 1, 2]
    # the first launch's records are untouched by the resume
    assert second["counters"][:2] == first["counters"]
