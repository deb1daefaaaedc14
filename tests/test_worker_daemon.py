"""Where the Python worker daemon (sparrow_spark/worker_daemon.py)
imports pyspark from, and what its forked workers inherit."""

import os
import subprocess
import sys
import zipfile

import pyspark
from pyspark.find_spark_home import _find_spark_home

from sparrow_spark.worker_daemon import path_without_spark_zips

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_LIB = os.path.join(_find_spark_home(), "python", "lib")


def _installed_version_text() -> str:
    with open(os.path.join(os.path.dirname(pyspark.__file__), "version.py")) as f:
        return f.read()


def _fake_zip(path, version_text: str) -> str:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", version_text)
    return str(path)


def test_zip_of_the_installed_release_is_dropped(tmp_path):
    fake = _fake_zip(tmp_path / "pyspark.zip", _installed_version_text())
    path = [fake] + sys.path
    assert path_without_spark_zips(path) == [e for e in path if e != fake]


def test_zip_of_another_release_is_kept(tmp_path):
    fake = _fake_zip(tmp_path / "pyspark.zip", "__version__: str = '0.0.1'\n")
    same = _fake_zip(tmp_path / "same.zip", _installed_version_text())
    path = [same, fake] + sys.path
    assert path_without_spark_zips(path) == path


def test_zip_with_no_installed_copy_is_kept(tmp_path):
    fake = _fake_zip(tmp_path / "pyspark.zip", _installed_version_text())
    assert path_without_spark_zips([fake, str(tmp_path)]) == [fake, str(tmp_path)]


def test_daemon_import_skips_zips_and_preloads():
    """Launched the way the JVM launches it, with the Spark zips first on
    PYTHONPATH, the daemon module leaves pyspark imported from the
    installed copy and pandas and pyarrow loaded for its workers."""
    zips = [
        os.path.join(SPARK_LIB, n)
        for n in sorted(os.listdir(SPARK_LIB))
        if n.endswith(".zip")
    ]
    assert any(os.path.basename(z) == "pyspark.zip" for z in zips)
    probe = (
        "import sys\n"
        "import sparrow_spark.worker_daemon\n"
        "import pyspark\n"
        "print('pandas' in sys.modules, 'pyarrow' in sys.modules, pyspark.__file__)\n"
    )
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(zips + [ROOT]))
    out = subprocess.run(
        [sys.executable, "-c", probe],
        capture_output=True, text=True, check=True, timeout=120, env=env,
    ).stdout.split()
    assert out[:2] == ["True", "True"]
    assert ".zip" not in out[2]


def test_package_import_leaves_pyspark_alone():
    probe = (
        "import sys\n"
        "import sparrow_spark\n"
        "assert 'pyspark' not in sys.modules\n"
        "from sparrow_spark import get_spark\n"
        "from sparrow_spark.session import get_spark as direct\n"
        "assert get_spark is direct\n"
    )
    subprocess.run(
        [sys.executable, "-c", probe], cwd=ROOT, check=True, timeout=120
    )


def test_spark_workers_import_installed_pyspark(spark):
    def probe(batches):
        import pandas as pd
        import pyspark

        for _ in batches:
            pass
        yield pd.DataFrame({"origin": [pyspark.__file__]})

    out = (
        spark.range(0, 100, 1, 2)
        .mapInPandas(probe, schema="origin string")
        .toPandas()
    )
    assert len(out) == 2
    assert not out["origin"].str.contains("pyspark.zip").any()
