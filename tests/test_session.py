"""Invariants of the session factory and the catalog around it: compiled
classes are reused from pass to pass, Python workers import the package
from any working directory, a streaming replay sizes its shuffle to the
replay, and a SQL text registers only the views it reads."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the benchmark's query mix: ~115 distinct generated classes per pass
QUERY_MIX = (
    "ctr_flagship",
    "q5_local_supplier_volume",
    "sql_shared_revenue",
    "exact_dedup",
    "dedup_semantic_clustered",
    "streaming_windowed_counts",
)


def _compiles(spark) -> int:
    """Janino compilations in this JVM so far (cache misses only)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _run_pass(spark, sf_dir: str) -> None:
    from hadoopmapreduce_spark import registry

    registry.load_all()
    for name in QUERY_MIX:
        df = registry.QUERIES[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()


def test_warm_pass_compiles_nothing(spark, sf_dir):
    """The generated code is identical from pass to pass, so once the
    generated-class cache holds the mix's working set a second pass
    compiles no class.  At Spark's default capacity (100) it recompiles
    dozens."""
    _run_pass(spark, sf_dir)
    before = _compiles(spark)
    _run_pass(spark, sf_dir)
    assert _compiles(spark) == before


def _run_probe(tmp_path, body: str) -> None:
    """Run ``body`` from ``tmp_path`` (outside the checkout) with
    ``PYTHONPATH`` unset and a pandas-UDF query at the end."""
    script = tmp_path / "probe.py"
    script.write_text(textwrap.dedent(body) + textwrap.dedent("""
        print("rows", q(spark, SF).count())
        spark.stop()
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    r = subprocess.run([sys.executable, str(script)], cwd=tmp_path, env=env,
                       capture_output=True, text=True, timeout=600)
    assert r.returncode == 0, r.stderr[-3000:]
    assert "rows " in r.stdout


def test_python_workers_import_package_from_any_cwd(tmp_path, sf_dir):
    """A script outside the checkout that puts the checkout on its own
    ``sys.path`` (no ``PYTHONPATH``) runs a pandas-UDF query: the workers,
    which unpickle functions of this package, must find it too."""
    _run_probe(tmp_path, f"""
        import sys
        sys.path.insert(0, {REPO_ROOT!r})
        from hadoopmapreduce_spark import registry
        from hadoopmapreduce_spark.session import get_spark

        spark, SF = get_spark("worker-path-probe", cpus=2), {sf_dir!r}
        registry.load_all()
        q = registry.QUERIES["dedup_semantic_clustered"]
    """)


def test_python_workers_import_package_from_plain_session(tmp_path, sf_dir):
    """The driver contract: a plain ``SparkSession`` (none of
    ``get_spark``'s settings) loads ``__spark_entry__.py`` by path from a
    working directory outside the checkout and runs the same query."""
    _run_probe(tmp_path, f"""
        import importlib.util
        from pyspark.sql import SparkSession

        spec = importlib.util.spec_from_file_location(
            "entry", {os.path.join(REPO_ROOT, "__spark_entry__.py")!r})
        m = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(m)
        spark, SF = SparkSession.builder.master("local[2]").getOrCreate(), {sf_dir!r}
        q = m.queries()["dedup_semantic_clustered"]
    """)


def test_replay_partitions_fit_the_replay(spark, sf_dir):
    """The events fixture is far below one scan split, so a replay of it
    runs on one shuffle partition (one state-store instance)."""
    from hadoopmapreduce_spark.catalog import replay_partitions

    assert replay_partitions(spark, os.path.join(sf_dir, "events.parquet")) == 1


def _fixture_views(spark) -> set[str]:
    from hadoopmapreduce_spark.catalog import TABLES

    return {t.name for t in spark.catalog.listTables()
            if t.isTemporary} & set(TABLES)


def test_register_views_registers_only_named(spark, sf_dir):
    from hadoopmapreduce_spark.catalog import TABLES, register_views
    from hadoopmapreduce_spark.operators.sqltext import sql_shared_revenue

    for name in TABLES:
        spark.catalog.dropTempView(name)
    register_views(spark, sf_dir, "orders")
    assert _fixture_views(spark) == {"orders"}

    spark.catalog.dropTempView("orders")
    sql_shared_revenue(spark, sf_dir)
    assert _fixture_views(spark) == {"orders", "customer", "nation"}

    register_views(spark, sf_dir)
    assert _fixture_views(spark) == set(TABLES)


def test_env_options_are_the_five_host_settings():
    """The package reads exactly five ``SPARK_GRAFT_*`` environment
    options, each a fact about the host or a test hook; everything else
    is a constant in the code."""
    import re

    found: set[str] = set()
    for root, _dirs, files in os.walk(os.path.join(REPO_ROOT, "hadoopmapreduce_spark")):
        for name in files:
            if name.endswith(".py"):
                with open(os.path.join(root, name), encoding="utf-8") as fh:
                    found.update(re.findall(r"SPARK_GRAFT_([A-Z_]+)", fh.read()))
    assert found == {
        "CPUS",
        "DRIVER_MEM",
        "WAREHOUSE",
        "SCRATCH",
        "STREAM_MERGE_FILES_PER_TRIGGER",
    }
