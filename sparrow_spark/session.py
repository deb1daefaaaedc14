"""SparkSession factory.

The reference runs a single-process tokio server with one global context
(reference: src/main.rs:88-99, src/core/global_context.rs:12-18); the
Spark-native equivalent of "the engine process" is one shared
SparkSession configured for analytics:

- AQE on (runtime re-planning, skew-join handling, partition coalescing)
- UTC session timezone (stable timestamp semantics across engines)
- Arrow-accelerated Python interchange (pandas UDF / toPandas fast path)

Scale notes: `spark.sql.shuffle.partitions` defaults to a small number
for local test scale factors; on a real cluster AQE coalescing makes the
initial value mostly a ceiling — set it to ~2-3x total cores there.
The driver JVM runs at C1 only (see get_spark), which costs CPU-bound
queries re-run in one long-lived driver; executor JVMs on a cluster
take no `spark.executor.*` setting from here and keep C2 for their
data-plane loops. The class-data archive (see get_spark) is likewise
driver-only, local to the machine that recorded it, and sized by the
classes one driver loads (~170 MB), not by the data.
"""

from __future__ import annotations

import fcntl
import hashlib
import json
import os
import shutil
import subprocess
import tempfile
import uuid
from contextlib import contextmanager

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = "32"
C1_ONLY = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"
# CDS warnings ("shared class paths mismatch", "Skipping ..." at dump)
# go to stdout by default, which the wire server's READY/BYE protocol
# and bench.py's last-line-is-JSON contract share with the JVM.
CDS_QUIET = "-Xlog:cds=off,cds+dynamic=off,class+path=off"


class ClassDataArchive:
    """JDK 19's -XX:+AutoCreateSharedArchive, done by hand for JDK 17.

    A driver JVM starts from the published archive for this JDK and
    these Spark jars when one exists, and otherwise records the classes
    it loads into a temporary archive when it exits. A recording is
    published only after its JVM has ended and a throwaway
    `java -Xshare:on -version` has mapped it: a truncated archive
    (a recorder killed mid-dump) kills the JVM mapping it with SIGBUS.
    """

    def __init__(self, options: str, conf_dir: str, recording: str | None):
        self.options = options
        self.conf_dir = conf_dir
        self.recording = recording

    @staticmethod
    def cache_dir() -> str:
        base = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
        return os.path.join(base, "sparrow_spark")

    @staticmethod
    def java() -> str:
        """The java spark-class runs."""
        home = os.environ.get("JAVA_HOME")
        if home:
            return os.path.join(home, "bin", "java")
        return shutil.which("java") or "java"

    @staticmethod
    def key(spark_home: str) -> str:
        """The JDK plus the Spark jars' names, sizes and mtimes."""
        java = os.path.realpath(ClassDataArchive.java())
        libjvm = os.path.join(
            os.path.dirname(os.path.dirname(java)), "lib", "server", "libjvm.so"
        )
        jars = os.path.join(spark_home, "jars")
        h = hashlib.sha256(java.encode())
        for path in [libjvm] + [
            os.path.join(jars, n) for n in sorted(os.listdir(jars))
        ]:
            st = os.stat(path)
            h.update(f"\0{os.path.basename(path)} {st.st_size} {st.st_mtime_ns}".encode())
        return h.hexdigest()[:16]

    @classmethod
    def prepare(cls) -> "ClassDataArchive | None":
        """The archive flags for the next driver launch, or None to
        launch unchanged. JDK 17 will not write an archive while a
        non-empty directory is on the classpath, and the launcher puts
        the Spark conf dir there; the launch is redirected to an empty
        one only when the real one holds nothing the launcher reads."""
        spark_home = _find_spark_home()
        conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
        if os.path.isdir(conf) and any(
            not n.endswith(".template") for n in os.listdir(conf)
        ):
            return None
        cache = cls.cache_dir()
        empty_conf = os.path.join(cache, "conf")
        try:
            key = cls.key(spark_home)
            os.makedirs(empty_conf, exist_ok=True)
            if os.listdir(empty_conf):
                return None
            with cls._locked(cache):
                recording_elsewhere = cls._publish_recordings(cache, key)
        except OSError:
            return None
        published = os.path.join(cache, f"{key}.jsa")
        if any(c.isspace() or c in "\"'\\" for c in published):
            return None  # would not survive the launcher's option split
        if os.path.exists(published):
            return cls(f"-XX:SharedArchiveFile={published} {CDS_QUIET}",
                       empty_conf, None)
        if recording_elsewhere:
            return None
        recording = os.path.join(cache, f"{key}.{uuid.uuid4().hex}.rec.jsa")
        return cls(f"-XX:ArchiveClassesAtExit={recording} {CDS_QUIET}",
                   empty_conf, recording)

    def register(self, spark: SparkSession) -> None:
        """Note the recording JVM's pid and class path beside its
        archive, so a later start can tell when it has ended and map
        the archive under the same class path to check it."""
        if self.recording is None:
            return
        jvm = spark._jvm
        args = jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
        if f"-XX:ArchiveClassesAtExit={self.recording}" not in [
            str(a) for a in args.getInputArguments()
        ]:
            return
        meta = {
            "pid": jvm.java.lang.ProcessHandle.current().pid(),
            "classpath": jvm.java.lang.System.getProperty("java.class.path"),
        }
        with self._locked(os.path.dirname(self.recording)):
            with open(self.recording[: -len(".jsa")] + ".json", "w") as f:
                json.dump(meta, f)

    @staticmethod
    @contextmanager
    def _locked(cache: str):
        os.makedirs(cache, exist_ok=True)
        with open(os.path.join(cache, ".lock"), "w") as f:
            fcntl.flock(f, fcntl.LOCK_EX)
            yield

    @classmethod
    def _publish_recordings(cls, cache: str, key: str) -> bool:
        """Publish or delete every recording whose JVM has ended; drop
        archives of other keys once this key's is published. Returns
        whether a JVM is still recording this key. Call under _locked."""
        names = os.listdir(cache)
        recording_elsewhere = False
        for name in names:
            if not name.endswith(".rec.json"):
                continue
            meta_path = os.path.join(cache, name)
            rec = meta_path[: -len(".json")] + ".jsa"
            try:
                with open(meta_path) as f:
                    meta = json.load(f)
            except (OSError, ValueError):
                meta = {}
            if cls._recording(meta.get("pid"), rec):
                recording_elsewhere |= name.startswith(key + ".")
                continue
            if (
                name.startswith(key + ".")
                and os.path.exists(rec)
                and cls._maps(rec, meta.get("classpath"))
            ):
                os.replace(rec, os.path.join(cache, f"{key}.jsa"))
            for path in (rec, meta_path):
                if os.path.exists(path):
                    os.remove(path)
        names = os.listdir(cache)
        published = f"{key}.jsa" in names
        for name in names:
            if not name.endswith(".jsa") or name == f"{key}.jsa":
                continue
            if name.endswith(".rec.jsa"):
                # A recording with no pid file: its process died before
                # noting one, so nothing can check it.
                stale = name[: -len(".jsa")] + ".json" not in names
            else:
                stale = published
            if stale:
                os.remove(os.path.join(cache, name))
        return recording_elsewhere

    @staticmethod
    def _recording(pid, rec: str) -> bool:
        try:
            with open(f"/proc/{int(pid)}/cmdline", "rb") as f:
                return os.path.basename(rec).encode() in f.read()
        except (OSError, TypeError, ValueError):
            return False

    @classmethod
    def _maps(cls, rec: str, classpath: str | None) -> bool:
        """Whether a JVM on the recorder's class path maps `rec`: it
        exits 0 on a good archive, 1 on garbage and crashes with SIGBUS
        on a truncated one. Its crash report goes to a scratch dir, not
        the caller's cwd."""
        if not classpath:
            return False
        with tempfile.TemporaryDirectory() as scratch:
            try:
                r = subprocess.run(
                    [cls.java(), "-Xshare:on", f"-XX:SharedArchiveFile={rec}",
                     "-XX:-CreateCoredumpOnCrash",
                     f"-XX:ErrorFile={scratch}/hs_err_pid%p.log",
                     CDS_QUIET, "-cp", classpath, "-version"],
                    cwd=scratch, stdin=subprocess.DEVNULL,
                    capture_output=True, timeout=120,
                )
            except (OSError, subprocess.TimeoutExpired):
                return False
        return r.returncode == 0


def _export_pythonpath() -> None:
    """Put this package's root on PYTHONPATH. Local-mode Python workers
    start by `python -m` in a fresh process whose PYTHONPATH is the
    Spark-provided zips plus the driver's, so they can import the
    package whatever cwd the driver was launched from."""
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pythonpath = os.environ.get("PYTHONPATH", "")
    if repo_root not in pythonpath.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + pythonpath if pythonpath else "")
        )


def get_spark(
    app_name: str = "sparrow-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) the engine's SparkSession."""
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    # Before the context starts: the worker daemon wrapper
    # (spark.python.daemon.module below) is imported from it.
    _export_pythonpath()
    # The driver JVM starts from a class-data archive (AppCDS) of the
    # classes an earlier driver loaded, which it maps instead of
    # loading and verifying each class from the jars again. This speeds
    # up everything that loads classes on first use: session start,
    # Engine(), attach_fixture, plan builders and first executions.
    # perfbench olap_pack setup_s, 10 alternating pairs on a 4-vCPU
    # box: median 17.5 -> 11.2 s, cpu_s_per_op unchanged (1.40 ->
    # 1.41). The first start with no archive records one instead; that
    # run costs more, once (setup_s 23.8 s), and its JVM spends 10-15 s
    # dumping at exit.
    # - The archive lives in ${XDG_CACHE_HOME:-~/.cache}/sparrow_spark/,
    #   one per JDK and set of Spark jars (170 MB); a new one replaces
    #   the others. `rm -rf ~/.cache/sparrow_spark` clears it; the next
    #   start records a fresh one.
    # - JDK 17 writes no archive while a non-empty directory is on the
    #   classpath, and the launcher puts the Spark conf dir there. The
    #   launch moves to an empty conf dir only when the real one holds
    #   nothing but *.template files (or is missing), so nothing the
    #   launcher or Spark reads is lost; otherwise the launch is
    #   unchanged and uses no archive.
    # - Only a launch that sets the driver's Java options can use an
    #   archive; a caller that overrides them through extra_conf gets
    #   exactly the launch it asked for.
    archive = None
    if SparkContext._gateway is None and (
        "spark.driver.defaultJavaOptions" not in (extra_conf or {})
    ):
        archive = ClassDataArchive.prepare()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # r16 note: coalescePartitions.parallelismFirst=false (byte-
        # sized post-shuffle partitions, the Spark docs' own
        # recommendation) was A/B-measured this round and REJECTED:
        # at bench scale it serializes exactly the stages whose cost
        # is per-row compute or result serialization rather than bytes
        # (q_interval_overlap_join 3-4x, q_asof_join 3x,
        # q_sorted_neighborhood 2x slower) while saving only ~tens of
        # ms on tiny aggregations. The default (parallelism-first,
        # 1 MB min partitions) is already scale-adaptive: at cluster
        # volumes bytes/cores exceeds the advisory target and the two
        # settings converge. Measurements in OPTIMIZATION_r16.md.
        # Likewise preferSortMergeJoin=false (guide SS3.1: shuffled-
        # hash skips two per-partition sorts) A/B-measured within
        # noise on 14 join-heavy queries — not adopted; the default
        # keeps sort-merge's graceful spill behavior at scale.
        .config("spark.sql.shuffle.partitions", DEFAULT_SHUFFLE_PARTITIONS)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # The heap is fixed, not sized from the host, and a busy driver
        # grows to ~9 GB resident: two driver processes at once on a
        # 16 GB host got one OOM-killed (a tier-1 pytest run beside
        # bench.py). Overlapping runs on such a host need
        # SPARK_DRIVER_MEMORY=4g each.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # The driver JVM compiles with C1 only. This trades speed of
        # code the JVM runs again and again for CPU spent compiling
        # code it runs a few times (4-vCPU box, sf0.1; ROADMAP
        # "Measured: the JIT"). Wins: one 30-statement sql_wire cycle
        # in a fresh JVM spent >=15.3 CPU-s in C2 compiler threads
        # against 3.3 CPU-s in all task threads; C1 only cut sql_wire
        # cpu_s_per_op 0.93 -> 0.39 over 15 s of traffic and
        # 0.49 -> 0.33 over 60 s (read p50 0.67 -> 0.50 s at 15 s,
        # within noise at 60 s). Costs: bench.py's warm headline (300
        # queries, each re-run in one long-lived JVM) 16.5 -> 20.6 s,
        # 13 queries over 1.5x; its streaming drains 31 -> 44 s; its
        # whole run, builds and first executions included, ~60% longer;
        # perfbench's 32-task calibration job ~2.5 s against ~0.4 s.
        # Driver-only: executor JVMs on a cluster keep C2 for their
        # data-plane loops. Without tiering the JVM reserves a 48 MiB
        # code cache, not the tiered 240 MiB; one long selfcheck JVM
        # filled it ("CodeCache is full. Compiler has been disabled",
        # then "Out of space in CodeCache for adapters" killed a
        # task), so C1_ONLY sizes it back to 240 MiB, a reservation of
        # address space, not of memory. Set as defaultJavaOptions, which the
        # launcher puts before extraJavaOptions, so a caller's
        # extraJavaOptions (benchmark harness, deployers) adds to it
        # instead of replacing it; a caller that wants C2 back
        # overrides this key through extra_conf.
        .config(
            "spark.driver.defaultJavaOptions",
            f"{C1_ONLY} {archive.options}" if archive else C1_ONLY,
        )
        # r16 (guide §4): stock pyspark workers call
        # importlib.invalidate_caches() at the top of EVERY task, and on
        # Python 3.11 each cached zipimporter re-reads its whole zip
        # central directory — measured ~117 ms per task on this box
        # (pyspark.zip + spark-core jar finders), dominating every
        # Python-tier stage. The wrapper module patches
        # zipimporter.invalidate_caches with an mtime stat-guard
        # (CPython 3.12's semantics) in the daemon parent, inherited by
        # every forked worker. See sparrow_spark/worker_daemon.py.
        .config("spark.python.daemon.module", "sparrow_spark.worker_daemon")
        # r16 (guide §7.3 "very large query plans are driver-side
        # work"): EVERY action generates the full formatted plan string
        # (plus a redaction-regex pass over it) for the
        # SQLExecutionStart listener event — even with the UI disabled.
        # The iterative-convergence queries carry 0.5-1.3 MB plan TEXTS
        # (their executed work is checkpoint-pinned and tiny), so this
        # string build was 40-60% of their steady per-run cost:
        # q_golden_record 0.40->0.19 s, q_cluster_size_dist 0.26->0.16,
        # q_dedup_clusters/savings 0.18->0.115 (same-session A/B/A).
        # 128 KiB keeps every human-sized plan intact (the audit
        # queries' plan-shape assertions read 2-40 KB plans); tools
        # that capture full plans (scripts/explain_audit.py, including
        # its --sweep mode) raise this conf at runtime — it is
        # session-dynamic.
        .config("spark.sql.maxPlanStringLength", "131072")
        # r16 (guide §2.2): AQE's coalescing floor
        # (minPartitionSize, default 1 MiB) serializes small-but-
        # compute-bound final stages at interactive scale — a 0.5-3 MB
        # post-shuffle stage lands on 1-3 tasks regardless of per-row
        # cost (measured: q_rake_keywords 0.081->0.029 s,
        # q_association_rules 0.086->0.035, q_window_topk_per_group
        # 0.100->0.062 at 256 KiB; the <50 ms tail unchanged, A/B/A).
        # At production volumes post-shuffle bytes/cores far exceeds
        # any floor, so this knob only affects small interactive
        # stages; clusters that want the 1 MiB default back pass it
        # in extra_conf.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "262144")
        # Tungsten execution pages of 1 MiB. Left unset, Spark sizes a
        # page from the heap (execution pool / cores / 16, rounded up
        # to a power of two): 64 MiB for the 8g driver
        # (memoryManager().pageSizeBytes() = 67108848). Every task that
        # sorts, aggregates or writes a shuffle allocates and zeroes at
        # least one page, even for a few KB of rows, and under G1 with
        # 4 MiB regions each page is a humongous object. One olap_pack
        # pass (4-vCPU box) ran 17 humongous-allocation concurrent
        # starts and 8 mark cycles and committed 2.5-4.5 GB of heap;
        # with 1 MiB pages it ran none and 1 mark cycle and committed
        # 1.06 GB, peak RSS 4.3-4.5 -> 2.7-2.9 GB. The page table has
        # 8192 entries per task, so 1 MiB pages cap one task's
        # in-memory execution state at 8 GiB; here the pool (4.7 GB
        # for the whole local driver) runs out first, and a task
        # spills. Cluster deployers with larger executors pass a
        # larger page in extra_conf.
        .config("spark.buffer.pageSize", "1m")
        # Case mapping (lower/upper/initcap) through the JDK, not ICU.
        # With the default (true), Spark 4.1's first case function in a
        # JVM loads CollationAwareUTF8String, whose static initializer
        # calls ICU's UCharacter.toTitleCase on all 1,114,112 code
        # points to fill a 48-entry one-to-many title-case table, even
        # for ASCII input. After warm-up a one-row lower() cost 1.61
        # CPU-s / 1.40 s wall with it and 0.11 CPU-s / 0.05 s without
        # (4-vCPU box); in an olap_pack pass the whole cost landed on
        # q_dedup_exact. With it off, ASCII takes UTF8String's fast
        # path and other text goes through JDK String.toLowerCase/
        # toUpperCase. Over all 1,112,064 scalar code points ICU 77
        # and JDK 17 (locale en) differ on 67 for lower and 67 for
        # upper case, all letters added in Unicode 14-16 (U+A7C0,
        # U+10570, ...), and initcap leaves a word-initial one-to-many
        # title-case code point (the ligature U+FB01, say) as it is
        # rather than expanding it. The JDK path follows the JVM's
        # default locale: under tr, az or lt a string holding any
        # non-ASCII character maps by that locale's rules, its ASCII
        # I/i included. Fixture strings are all ASCII.
        .config("spark.sql.icu.caseMappings.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    if archive is None:
        return builder.getOrCreate()
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = archive.conf_dir
    try:
        spark = builder.getOrCreate()
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved
    archive.register(spark)
    return spark


def tune_for_session(spark: SparkSession) -> SparkSession:
    """Apply engine conf to an externally-provided SparkSession.

    The driver may hand us a session it built itself; only runtime-settable
    confs are applied here (timezone matters for timestamp correctness).
    Its JVM is already running, so launch-time settings of get_spark
    (driver memory, the C1-only JIT and its code cache, the class-data
    archive, the 1 MiB execution page) cannot apply to it: it keeps
    Spark's heap-derived page size. Case mapping through the JDK
    instead of ICU (``spark.sql.icu.caseMappings.enabled=false``, see
    get_spark) is a runtime SQL conf, so it is set here too; it spares
    the session's first lower/upper/initcap ICU's title-case table
    only if no case function has run in that JVM yet.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.icu.caseMappings.enabled", "false")
    # Worker callables are cloudpickled by value anyway (see
    # operators/multimodal.py); this is belt-and-braces for
    # user-registered UDFs.
    _export_pythonpath()
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    except Exception:
        pass
    return spark
