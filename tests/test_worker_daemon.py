"""worker_daemon: Python workers fork with Spark's archives off ``sys.path``.

Contract pinned here:
* on the shared session, a worker's ``sys.path`` holds no ``.zip``/``.jar``
  under ``$SPARK_HOME``, and it imports the driver's pyspark, not the copy
  in ``pyspark.zip``;
* the strip rule keeps a user's archive outside ``$SPARK_HOME``, strips
  nothing when pyspark or py4j resolves only inside the archives, and
  compares a linked ``$SPARK_HOME`` by its real path;
* a driver started outside the repo still runs the package's UDFs: the
  workers' path names the package's directory.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pyspark

from etl_drone_sense_spark.worker_daemon import spark_archives

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _in_archive(path: str) -> bool:
    return any(part.endswith((".zip", ".jar")) for part in path.split(os.sep))


def test_workers_import_pyspark_outside_spark_archives(spark):
    def probe(_):
        import os
        import sys

        import pyspark

        home = os.path.realpath(os.environ["SPARK_HOME"])
        yield (
            [
                p for p in sys.path
                if p.endswith((".zip", ".jar"))
                and os.path.realpath(p).startswith(home + os.sep)
            ],
            pyspark.__file__,
        )

    archives, worker_pyspark = (
        spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()[0]
    )
    assert archives == []
    assert not _in_archive(worker_pyspark)
    assert worker_pyspark == pyspark.__file__


def _resolver(packages: dict[str, str]):
    """Finds a package on a path when the entry it lives in is on it."""
    return lambda name, path: (
        os.path.join(packages[name], name, "__init__.py")
        if packages.get(name) in path else None
    )


def test_strip_rule_keeps_user_archives_and_needs_both_packages():
    home = "/opt/spark-x"
    zips = [f"{home}/python/lib/pyspark.zip", f"{home}/python/lib/py4j-src.zip"]
    jar = f"{home}/jars/spark-core.jar"
    site = "/usr/lib/python3/site-packages"
    user = "/home/u/deps.zip"
    path = ["/work", *zips, jar, user, site]

    installed = _resolver({"pyspark": site, "py4j": site})
    assert spark_archives(path, home, installed) == [*zips, jar]
    assert spark_archives(path, None, installed) == []

    # pyspark or py4j only inside the archives: the path stays whole.
    assert spark_archives(path, home, _resolver({"pyspark": site, "py4j": zips[1]})) == []
    assert spark_archives(path, home, _resolver({"pyspark": zips[0], "py4j": site})) == []
    # Found in a user archive outside SPARK_HOME, which is kept: strip.
    assert spark_archives(path, home, _resolver({"pyspark": user, "py4j": site})) == [*zips, jar]


def test_strip_rule_compares_real_paths(tmp_path):
    real = tmp_path / "spark-4-bin"
    (real / "jars").mkdir(parents=True)
    link = tmp_path / "spark"
    link.symlink_to(real)
    site = str(tmp_path / "site")
    path = [str(link / "python/lib/pyspark.zip"), str(real / "jars/spark-core.jar"), site]
    installed = _resolver({"pyspark": site, "py4j": site})

    assert spark_archives(path, str(link), installed) == path[:2]
    assert spark_archives(path, str(real), installed) == path[:2]
    # A directory whose name only starts like SPARK_HOME's is outside it.
    assert spark_archives([str(real) + "-extra/deps.zip", site], str(real), installed) == []


def test_package_udfs_run_from_a_directory_outside_the_repo(tmp_path):
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from etl_drone_sense_spark.operators.multimodal import synth_ulaw_media
        from etl_drone_sense_spark.session import get_spark

        spark = get_spark(master="local[1]", extra_conf={{
            "spark.driver.memory": "1g",
            "spark.ui.showConsoleProgress": "false",
        }})
        docs = spark.range(3).withColumnRenamed("id", "doc_id")
        print("rows", synth_ulaw_media(docs).count())
        spark.stop()
    """)
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.split() == ["rows", "3"]
