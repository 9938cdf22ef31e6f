from __future__ import annotations

import os
import subprocess
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

# default sf0.001 for speed; SPARK_GRAFT_TEST_SF=sf0.01 (or sf0.1) runs the
# whole parity suite at a larger scale — worth one sweep per round since key
# collisions and value distributions change with sf
SF_SMALL = f"/root/testdata/{os.environ.get('SPARK_GRAFT_TEST_SF', 'sf0.001')}"


@pytest.fixture(scope="session")
def spark():
    from hadoopmapreduce_spark.session import get_spark

    spark = get_spark("hadoopmapreduce-spark-tests", cpus=8, shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMALL


@pytest.fixture(scope="session")
def oracle_con(sf_dir):
    from hadoopmapreduce_spark.oracle import duckdb_connect

    con = duckdb_connect(sf_dir)
    yield con
    con.close()


@pytest.fixture(scope="session")
def scale_sf09_dir(tmp_path_factory) -> str:
    """The sf0.9 scale-probe fixture, generated for this run (numpy, seed
    42) by ``scripts/gen_scale_fixtures.py``."""
    out = tmp_path_factory.mktemp("scale_fixtures")
    subprocess.run(
        [sys.executable, os.path.join(REPO_ROOT, "scripts", "gen_scale_fixtures.py"),
         "--out-dir", str(out), "0.9"],
        check=True,
        timeout=600,
    )
    return str(out / "sf0.9")
