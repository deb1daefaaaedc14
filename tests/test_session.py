"""Launch settings of the engine's driver JVM (session.get_spark)."""

import json
import os
import shutil
import subprocess
import sys

import pytest

C1_ONLY = "-XX:TieredStopAtLevel=1"


def test_driver_jvm_runs_c1_only(spark):
    mx = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    assert C1_ONLY in [str(a) for a in mx.getInputArguments()]


def test_driver_code_cache_is_the_tiered_size(spark):
    # C1 only would otherwise reserve 48 MiB, which one long
    # selfcheck JVM filled.
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    assert bean.getVMOption("ReservedCodeCacheSize").getValue() == str(240 * 2**20)


def test_execution_page_is_one_mib(spark):
    env = spark._jvm.org.apache.spark.SparkEnv.get()
    assert env.memoryManager().pageSizeBytes() == 2**20


def test_case_mapping_skips_icu(spark):
    assert spark.conf.get("spark.sql.icu.caseMappings.enabled") == "false"


# (input, lower, upper, initcap) as Spark's ICU case mapping returns
# them; the JDK mapping must agree on each.
CASE_MAPPED = [
    ("Hello World 123", "hello world 123", "HELLO WORLD 123", "Hello World 123"),
    (
        "àéîõü ÀÉÎÕÜ ñÑ çÇ ÿ",
        "àéîõü àéîõü ññ çç ÿ",
        "ÀÉÎÕÜ ÀÉÎÕÜ ÑÑ ÇÇ Ÿ",
        "Àéîõü Àéîõü Ññ Çç Ÿ",
    ),
    ("Straße", "straße", "STRASSE", "Straße"),
    ("ΟΔΟΣ", "οδος", "ΟΔΟΣ", "Οδος"),
    ("ǅemal", "ǆemal", "ǄEMAL", "ǅemal"),
]


def test_case_functions_match_icu_mapping(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(r[0],) for r in CASE_MAPPED], "s string")
    got = df.select(
        "s", F.lower("s"), F.upper("s"), F.initcap("s")
    ).collect()
    assert sorted(tuple(r) for r in got) == sorted(CASE_MAPPED)


def test_tune_for_session_skips_icu(spark):
    from sparrow_spark.session import tune_for_session

    spark.conf.set("spark.sql.icu.caseMappings.enabled", "true")
    try:
        tune_for_session(spark)
        assert spark.conf.get("spark.sql.icu.caseMappings.enabled") == "false"
    finally:
        spark.conf.set("spark.sql.icu.caseMappings.enabled", "false")


def test_one_task_state_spans_many_pages(spark):
    """A groupBy and an orderBy whose state, in one task each, is many
    1 MiB pages: 220k distinct string keys."""
    from pyspark.sql import functions as F

    n, keys = 300_000, 220_000
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try:
        rows = (
            spark.range(0, n, 1, 1)
            .select(
                F.format_string("key-%07d", F.col("id") % keys).alias("k"),
                F.col("id"),
            )
            .groupBy("k")
            .agg(F.count("*").alias("c"), F.sum("id").alias("s"))
            .orderBy("k")
            .collect()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)
    expected = {}
    for i in range(n):
        c, s = expected.get(i % keys, (0, 0))
        expected[i % keys] = (c + 1, s + i)
    assert [(r.k, r.c, r.s) for r in rows] == [
        (f"key-{k:07d}", c, s) for k, (c, s) in sorted(expected.items())
    ]


def test_caller_java_options_add_to_c1_only():
    """A caller's spark.driver.extraJavaOptions (the benchmark harness,
    a deployer) must reach the JVM beside the C1-only flag, not replace
    it. The JVM starts once per process, so this needs its own."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    probe = (
        "import json, sys\n"
        f"sys.path.insert(0, {root!r})\n"
        "from sparrow_spark.session import get_spark\n"
        "spark = get_spark('sparrow-session-probe', master='local[1]',\n"
        "    extra_conf={'spark.driver.extraJavaOptions': '-Dsparrow.probe=1',\n"
        "                'spark.driver.memory': '512m'})\n"
        "mx = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()\n"
        "print(json.dumps([str(a) for a in mx.getInputArguments()]))\n"
        "spark.stop()\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe],
        capture_output=True,
        text=True,
        check=True,
        timeout=300,
    ).stdout
    args = json.loads(out.strip().splitlines()[-1])
    assert C1_ONLY in args
    assert "-Dsparrow.probe=1" in args


# Class-data archive (session.ClassDataArchive). Each start runs in its
# own interpreter, since the JVM starts once per process, with
# XDG_CACHE_HOME pointing into the test's directory. subprocess.run
# returns only once the JVM has exited too (it holds the pipes), so a
# recording is complete when it returns.
ARCHIVE_PROBE = """
import json, os, signal, sys
sys.path.insert(0, {root!r})
from sparrow_spark.session import get_spark
spark = get_spark('sparrow-archive-probe', master='local[1]',
    extra_conf={{'spark.driver.memory': '512m'}})
jvm = spark._jvm
pid = jvm.java.lang.ProcessHandle.current().pid()
with open(f'/proc/{{pid}}/maps') as f:
    mapped = sorted({{l.split()[-1] for l in f if l.rstrip().endswith('.jsa')}})
out = {{
    'mapped': mapped,
    'args': [str(a) for a in
             jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
             .getInputArguments()],
    'conf_dir': jvm.java.lang.System.getenv('SPARK_CONF_DIR'),
    'probe_conf': spark.conf.get('spark.sparrow.probe', None),
    'answer': spark.range(10).selectExpr('sum(id) AS s').collect()[0].s,
}}
with open(sys.argv[1], 'w') as f:
    json.dump(out, f)
if '--kill' in sys.argv:
    # End the JVM without its exit-time archive dump, as a recorder
    # killed mid-dump would.
    os.kill(pid, signal.SIGKILL)
"""


def _start(tmp_path, name, kill=False, **env):
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = tmp_path / f"{name}.json"
    r = subprocess.run(
        [sys.executable, "-c", ARCHIVE_PROBE.format(root=root), str(out)]
        + (["--kill"] if kill else []),
        env=dict(os.environ, XDG_CACHE_HOME=str(tmp_path / "cache"), **env),
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    # Nothing from the JVM may reach stdout: the wire server's READY/BYE
    # protocol and bench.py's last-line-is-JSON contract share it.
    assert r.stdout == ""
    assert not list(tmp_path.glob("hs_err*")) and not list(tmp_path.glob("core*"))
    doc = json.loads(out.read_text())
    assert doc["answer"] == 45
    return doc


def _flags(doc, flag):
    return [a for a in doc["args"] if a.startswith(flag)]


@pytest.fixture(scope="module")
def recorded(tmp_path_factory):
    """A first start that records an archive, then a second start."""
    tmp = tmp_path_factory.mktemp("archive")
    cache = tmp / "cache" / "sparrow_spark"
    first = _start(tmp, "first")
    recordings = list(cache.glob("*.rec.jsa"))
    (meta,) = [json.loads(p.read_text()) for p in cache.glob("*.rec.json")]
    second = _start(tmp, "second")
    yield {"cache": cache, "first": first, "second": second,
           "recordings": recordings, "classpath": meta["classpath"]}
    shutil.rmtree(tmp, ignore_errors=True)


def test_first_start_records_archive_and_second_maps_it(recorded):
    cache, first, second = recorded["cache"], recorded["first"], recorded["second"]
    assert first["conf_dir"] == str(cache / "conf")
    assert len(_flags(first, "-XX:ArchiveClassesAtExit=")) == 1
    assert not _flags(first, "-XX:SharedArchiveFile=")
    assert len(recorded["recordings"]) == 1
    # The second start checked the recording, published it and mapped it.
    published = [p for p in cache.glob("*.jsa") if ".rec." not in p.name]
    assert len(published) == 1
    assert str(published[0]) in second["mapped"]
    assert _flags(second, "-XX:SharedArchiveFile=") == [
        f"-XX:SharedArchiveFile={published[0]}"
    ]
    assert not _flags(second, "-XX:ArchiveClassesAtExit=")
    assert not list(cache.glob("*.rec.*"))
    assert C1_ONLY in second["args"]


def test_truncated_recording_is_never_published_or_mapped(recorded, tmp_path):
    """A recorder killed mid-dump leaves a truncated archive; mapping one
    kills the JVM with SIGBUS. It must be checked and dropped, and the
    session must start and answer anyway."""
    (published,) = [p for p in recorded["cache"].glob("*.jsa")
                    if ".rec." not in p.name]
    cache = tmp_path / "cache" / "sparrow_spark"
    cache.mkdir(parents=True)
    key = published.name[: -len(".jsa")]
    truncated = cache / f"{key}.truncated.rec.jsa"
    with open(published, "rb") as src, open(truncated, "wb") as dst:
        dst.write(src.read(50 * 2**20))
    (cache / f"{key}.truncated.rec.json").write_text(
        json.dumps({"pid": 2**22 + 1, "classpath": recorded["classpath"]})
    )
    doc = _start(tmp_path, "truncated", kill=True)
    assert not [m for m in doc["mapped"] if m.startswith(str(tmp_path))]
    assert not truncated.exists()
    assert not (cache / f"{key}.jsa").exists()
    # With nothing published it records afresh.
    assert len(_flags(doc, "-XX:ArchiveClassesAtExit=")) == 1


def test_conf_dir_with_real_files_launches_unchanged(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.sparrow.probe true\n")
    doc = _start(tmp_path, "conf", SPARK_CONF_DIR=str(conf))
    assert doc["conf_dir"] == str(conf)
    assert doc["probe_conf"] == "true"
    assert not [a for a in doc["args"] if "Archive" in a or "-Xlog:" in a]
    assert not [m for m in doc["mapped"] if m.startswith(str(tmp_path))]
    assert not (tmp_path / "cache").exists()
