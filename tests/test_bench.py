"""The measurement harness (``bench.py``) and the host-sized session
defaults it runs on."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

import bench
from swarm_spark.session import session_sizing

ROOT = Path(__file__).resolve().parent.parent
ROWS = ["s1_scan_count", "pipeline_ingest_e2e"]
HEADLINE_KEYS = {
    "metric", "value", "unit", "queries", "sf", "runs_per_query",
    "aggregation", "load_1m", "samples_file",
}


@pytest.fixture(scope="module")
def measured(spark, sf_dir, tmp_path_factory):
    plans = tmp_path_factory.mktemp("plans")
    headline, sidecar = bench.run(spark, ROWS, sf_dir, 1, plans_dir=str(plans))
    return headline, sidecar, plans


def test_run_reports_headline_and_per_row_digest(measured):
    headline, sidecar, _ = measured
    assert set(headline) == HEADLINE_KEYS
    assert list(headline["queries"]) == ROWS
    for name in ROWS:
        d = sidecar["digest"][name]
        assert d["build_s"] >= 0 and d["exec_s"] > 0
        assert d["exec_jobs"] >= 1
        assert d["stages"] >= 1 and d["tasks"] >= 1
        assert d["top_stages"], f"{name}: no stage digest"
        # one sample: the headline wall is exactly build + exec
        assert headline["queries"][name] == pytest.approx(
            d["build_s"] + d["exec_s"], abs=2e-4
        )


def test_plans_written_per_row(measured):
    _, _, plans = measured
    assert sorted(p.name for p in plans.iterdir()) == sorted(f"{n}.txt" for n in ROWS)
    for p in plans.iterdir():
        assert "Physical Plan" in p.read_text()


def test_unknown_name_exits_2(capsys):
    with pytest.raises(SystemExit) as exc:
        bench.main(["s1_scan_count", "no_such_query"])
    assert exc.value.code == 2
    err = capsys.readouterr().err
    assert "no_such_query" in err and "s1_scan_count" not in err.split("unknown")[-1]


def test_cli_prints_compact_headline_last(tmp_path, sf_dir):
    """The contract the benchmark driver parses: the last stdout line is
    one compact JSON object, under 2 KB, with the headline keys. Runs a
    copy of bench.py so the sidecar lands in the temp dir."""
    shutil.copy(ROOT / "bench.py", tmp_path / "bench.py")
    env = {
        **os.environ,
        "PYTHONPATH": str(ROOT),
        "SPARK_GRAFT_SF_DIR": sf_dir,
        "SPARK_GRAFT_BENCH_RUNS": "1",
    }
    out = subprocess.run(
        [sys.executable, str(tmp_path / "bench.py"), "s1_scan_count"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    last = out.stdout.strip().splitlines()[-1]
    assert len(last.encode()) < 2048
    assert set(json.loads(last)) == HEADLINE_KEYS
    assert "digest" in json.loads((tmp_path / "BENCH_samples.json").read_text())


def test_session_sizing_follows_env(monkeypatch):
    """With both knobs set, the values are the ones the fixed defaults
    gave (what perfbench runs on)."""
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    assert session_sizing() == ("local[3]", 3, "2g")


def test_session_sizing_defaults_to_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    master, partitions, mem = session_sizing()
    cores = len(os.sched_getaffinity(0))
    assert (master, partitions) == (f"local[{cores}]", cores)
    phys_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / (1 << 30)
    assert mem.endswith("g") and 1 <= int(mem[:-1]) <= max(1, phys_gb / 2)
