"""The scratch-space policy in ``state.py``: derived files are keyed by
source identity, never by a directory's display name, and go away with
the process that wrote them."""

from __future__ import annotations

import os
import subprocess
import sys

import duckdb
import pytest

from perfbench.fixtures import generate
from solarflare_etl_pipeline_spark.catalog import TABLES
from solarflare_etl_pipeline_spark.registry import load_all
from tests.conftest import assert_parity

SPECS = load_all()
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def same_basename_dirs(tmp_path_factory):
    """Two fixtures of different scale whose directories are both named
    ``sf``."""
    base = tmp_path_factory.mktemp("same_basename")
    dirs = {}
    for tag, sf in (("a", 0.001), ("b", 0.002)):
        d = str(base / tag / "sf")
        generate(sf, d)
        dirs[tag] = d
    return dirs


def _assert_matches_oracle(spark, name, sf_dir):
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        assert_parity(SPECS[name].spark(spark, sf_dir), con, SPECS[name].oracle)
    finally:
        con.close()


@pytest.mark.parametrize(
    "name",
    [
        "ingest_csv",
        # ~15 s for three streaming runs: opt-in tier
        pytest.param("stream_tumbling_live", marks=pytest.mark.heavy),
    ],
)
def test_same_basename_sources_do_not_share_derived_files(
    spark, same_basename_dirs, name
):
    """a, then b, then a again: each answer must be the one for the
    fixture asked about, not a copy derived from the other one."""
    for tag in ("a", "b", "a"):
        _assert_matches_oracle(spark, name, same_basename_dirs[tag])


def test_scratch_is_removed_at_exit(tmp_path, sf_dir):
    """A process that builds a derived input and round-trips the JDBC
    sink leaves no ``solarflare_*`` entry in its temp directory once it
    exits, and no Derby log in its working directory."""
    scratch = tmp_path / "tmp"
    scratch.mkdir()
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    code = (
        "import os, sys\n"
        "from solarflare_etl_pipeline_spark.session import get_spark\n"
        "from solarflare_etl_pipeline_spark.sinks import sink_jdbc\n"
        "from solarflare_etl_pipeline_spark.sources.csv_ingest import ensure_customer_csv\n"
        "spark = get_spark('scratch-exit', cpus=1)\n"
        "path = ensure_customer_csv(spark, sys.argv[1])\n"
        "assert path.startswith(os.environ['TMPDIR']) and os.path.isdir(path), path\n"
        "assert sink_jdbc(spark, sys.argv[1]).count() > 0\n"
    )
    env = dict(
        os.environ, TMPDIR=str(scratch), SPARK_GRAFT_DRIVER_MEM="1g", PYTHONPATH=REPO
    )
    subprocess.run(
        [sys.executable, "-c", code, sf_dir], cwd=cwd, env=env, check=True,
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=300,
    )
    assert [p.name for p in scratch.iterdir() if p.name.startswith("solarflare_")] == []
    assert list(cwd.iterdir()) == []
