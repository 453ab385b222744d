"""SparkSession construction.

Defaults are tuned so the SAME code runs on local[N] for tests and on a
large cluster: AQE on (runtime coalescing + skew-join handling), Arrow on
(vectorized pandas-UDF exchange), modest shuffle partitions locally (AQE
coalesces further), broadcast threshold left at default so Catalyst
broadcasts small dimension tables (region/nation/...) automatically.

The driver JVM maps a per-user class-data-sharing archive (JDK dynamic
AppCDS, JEP 350) when one exists for its JDK, Spark and heap mode, and
dumps one at exit when none does; see _cds_plan.  A one-shot call with a
short statement that prints few rows over a small input runs the driver
JVM's JIT at C1 only; see _jit_plan.  Neither changes a result, only the time to one.

Spark keeps the classes it compiles for whole-stage codegen in a cache
of 100 entries by default.  A warm session's working set is about 200
(perfbench's `warm` pass compiles 174-198), so every pass evicted what
the next one needed and Janino recompiled about 195 classes each time
round.  get_spark raises the cache to CODEGEN_CACHE_ENTRIES, so a
statement run again compiles nothing.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import re
import shlex
import shutil
import subprocess
import threading

from pyspark.sql import SparkSession

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# What the last launch of the driver JVM did with the class-data archive
# ("mapped <path>", "dumping <path>" or "skipped: <reason>"); the CLI's
# --verbose prints it.  None until this process launches a JVM.
cds_state: str | None = None

# A one-shot call is over before C2-compiled code pays back its compile
# time while its JVM work is small, and then a C1-only JIT halves the
# call's CPU at no cost in wall time.  That work grows with the rows read,
# with what the statement computes per row and with the rows printed (the
# JVM pickles each one), so C1 is used only for calls shaped like those
# measured to win: a statement that cuts its output down (GROUP BY or
# LIMIT), of at most C1_STATEMENT_CHARS characters, over less than
# C1_MAX_INPUT_BYTES of CSV or JSON (C1_FORMATS; a Parquet file holds about
# four times the rows of a CSV of its size).  Measured cold on 4 cores, C1
# only against tiered, median wall time: the taxi group-by (84 characters)
# over a CSV -20 % at 19.4 MB, even at 58 MB, +3 % at 194 MB, +69 % at
# 1.94 GB; a 4-wide dialect statement (128 characters, LIMIT 300) over a
# users JSON -8 % at 25.1 MB and only -1 % at 32 MB; the 48-wide one (1,610
# characters) even at 0.3 MB, +5 % at 2.5 MB; every row of the 19.4 MB
# CSV printed, +11 % with no statement and +2 % for SELECT *.
C1_MAX_INPUT_BYTES = 24 << 20
C1_STATEMENT_CHARS = 128
C1_FORMATS = frozenset({"csv", "tsv", "tab", "json"})

# Entries of Spark's codegen cache (spark.sql.codegen.cache.maxEntries, a
# static conf); see the module docstring.
CODEGEN_CACHE_ENTRIES = 1000

# HotSpot keeps compressed oops up to a 32 GiB heap less one 32 MiB region
# (measured on JDK 17: -Xmx32736m on, -Xmx32737m off), and an archive
# dumped in one mode is ignored in the other.
_COOPS_MAX_HEAP = (32 << 30) - (32 << 20)
# The JVM sends its own log lines (CDS warnings among them) to stderr, so
# no JVM byte ever lands in the CLI's output.
_JVM_LOG_OPTS = ["-Xlog:disable", "-Xlog:all=warning:stderr"]
# The driver's log4j 2 configuration (errors only), passed with the other
# JVM options and, like them, only while the conf dir holds nothing but
# templates: a log4j2.properties there is the user's to keep.
_LOG4J_OPTS = ["-Dlog4j2.configurationFile="
               + os.path.join(os.path.dirname(os.path.abspath(__file__)), "log4j2.properties")]
# The first bytes of a finished JDK 17 dynamic archive (0xf00baba8,
# little-endian); the JVM writes the header after everything else.
_DYNAMIC_ARCHIVE_MAGIC = bytes.fromhex("a8ab0bf0")


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def driver_memory() -> str:
    """`SPARK_GRAFT_DRIVER_MEM`, else min(32g, 60 % of physical memory).
    The heap size does not move JVM start-up; a heap larger than the host
    gets the process OOM-killed under load."""
    if os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        return os.environ["SPARK_GRAFT_DRIVER_MEM"]
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(32 << 10, int(total * 0.6) >> 20)}m"


def get_spark(app_name: str = "dsq-spark",
              master: str | None = None,
              input_bytes: int | None = None,
              statement: str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-appropriate defaults.

    On a real cluster, pass ``master=None`` with an external master URL in
    the environment; locally this defaults to ``local[$SPARK_GRAFT_CPUS]``.
    `input_bytes` is what a one-shot caller will read from its CSV and
    JSON input files in all, and `statement` the one statement it runs
    over them (None for a dump of every row); input_bytes=None (a
    long-lived session, or a size not known) keeps the JVM's default
    tiered JIT.
    """
    cpus = default_parallelism()
    memory = driver_memory()
    builder = (
        SparkSession.builder.appName(app_name)
        # AQE: runtime partition coalescing, skew-join splitting, and
        # dynamic join-strategy switching — essential at 100 TB where
        # static planning misestimates.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # r11: advisory coalescing target, env-tunable for cluster runs
        # (guide §2.2/§9 recommends 64-256 MB post-shuffle partitions at
        # scale; 64m is Spark's default, restated here so deployments have
        # one knob).  parallelismFirst was ALSO tried as "false" this round
        # and measured NEUTRAL-TO-NEGATIVE under the paired same-JVM A/B
        # protocol (agg_approx_quantile 1.27->2.04 s, sessionize
        # 0.27->0.35 s; the apparent first-look wins were fresh-JVM
        # cold/warm ordering artifacts), so it keeps Spark's default:
        # sub-minPartitionSize shuffles coalesce to 1 partition either way,
        # and mid-size shuffles keep their parallelism.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
                os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION", "64m"))
        # Arrow for any pandas-UDF exchange (the only sanctioned Python path).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Local default: one shuffle partition per core; on a cluster this
        # should be ~2-3x total cores — AQE coalesces the excess either way.
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.default.parallelism", str(max(cpus, 8)))
        # ANSI off: dsq/SQLite semantics are permissive (overflow wraps,
        # bad casts -> NULL), and our oracle SQL mirrors that.
        .config("spark.sql.ansi.enabled", "false")
        # Timestamps: avoid session-TZ surprises in oracle comparison.
        .config("spark.sql.session.timeZone", "UTC")
        # The driver's events.parquet stores TIMESTAMP(NANOS); Spark has no
        # nanos type, so read as long and rebuild micros in the loader
        # (dsq_spark.queries.base.t) — DuckDB truncates nanos→micros the
        # same way.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # local[N] runs executors inside the driver JVM, so this one heap
        # holds N concurrent tasks and every persisted cache; see
        # driver_memory() for why it stops short of the host's memory.
        .config("spark.driver.memory", memory)
        .config("spark.ui.enabled", "false")
        # dsq prints nothing while a statement runs; Spark's console
        # progress bar would write `[Stage 0:> ...]` lines to stderr.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    if master is not None:
        builder = builder.master(master)
    elif "SPARK_MASTER" not in os.environ:
        builder = builder.master(f"local[{cpus}]")
    # Python workers import dsq_spark (pandas-UDF closures pickle its
    # functions by reference), so put the directory that holds the
    # package on their path, or they only find it when the cwd is the
    # repo root.  Spark merges this with the process's own PYTHONPATH.
    builder = builder.config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    from pyspark import SparkContext

    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return builder.getOrCreate()  # no JVM launch, nothing to share
    global cds_state
    cds_state, java_opts, conf_dir, archive, temp = _cds_plan(memory)
    jit_opts, _ = _jit_plan(input_bytes, statement)
    opts = java_opts + jit_opts + (_LOG4J_OPTS if _user_conf() is None else [])
    if opts:
        # defaultJavaOptions, because --driver-java-options in
        # PYSPARK_SUBMIT_ARGS replaces extraJavaOptions set here.
        builder = builder.config("spark.driver.defaultJavaOptions", shlex.join(opts))
    saved = os.environ.get("SPARK_CONF_DIR")
    if conf_dir is not None:
        os.environ["SPARK_CONF_DIR"] = conf_dir  # the launcher reads it from our env
    try:
        if temp is not None:
            _launch_dumping_gateway(builder)
        spark = builder.getOrCreate()
    finally:
        if saved is None:
            os.environ.pop("SPARK_CONF_DIR", None)
        else:
            os.environ["SPARK_CONF_DIR"] = saved
    if archive is not None:
        cds_state = _check_launch(spark, archive, temp)
    return spark


# ------------------------------------------------- JIT by input and statement
def _jit_plan(input_bytes: int | None, statement: str | None) -> tuple[list[str], str]:
    """(java options, why) for the JIT of a driver JVM whose caller reads
    `input_bytes` in all and runs `statement` over it: C1 only for a short
    statement that cuts its output down over a small input, else the
    default tiered JIT.  A conf dir holding more than templates keeps the
    JVM options as they are: a spark.driver.defaultJavaOptions set here
    would replace the one in the user's spark-defaults.conf."""
    if input_bytes is None:
        return [], "no input size given"
    if (why := _user_conf()) is not None:
        return [], why
    size = f"{input_bytes / 1e6:.1f} MB of input"
    if input_bytes >= C1_MAX_INPUT_BYTES:
        return [], f"{size}, at or over {C1_MAX_INPUT_BYTES >> 20} MiB"
    if statement is None:
        return [], "no statement: every row is printed"
    if len(statement) > C1_STATEMENT_CHARS:
        return [], f"a statement of {len(statement)} characters, over {C1_STATEMENT_CHARS}"
    if not _cuts_output(statement):
        return [], "a statement with no GROUP BY or LIMIT"
    return ["-XX:TieredStopAtLevel=1"], size


def _cuts_output(statement: str) -> bool:
    """True when `statement` has GROUP BY or LIMIT outside parentheses,
    string literals, quoted names and comments."""
    from dsq_spark import sqllex

    spans = sqllex.opaque_spans(statement)
    depth, prev = 0, ""
    for t in sqllex.tokenize(statement):
        if sqllex.inside(spans, t.start):
            continue
        if t.text in "()":
            depth += 1 if t.text == "(" else -1
        elif depth == 0 and (t.low == "limit" or prev == "group" and t.low == "by"):
            return True
        prev = t.low
    return False


def driver_jit(spark, input_bytes: int | None, statement: str | None) -> str:
    """The JIT the driver JVM runs, read from the JVM itself so that options
    from elsewhere (PYSPARK_SUBMIT_ARGS) show up, with get_spark's reason
    for it when the JVM runs what get_spark asked for."""
    from py4j.protocol import Py4JError

    asked, why = _jit_plan(input_bytes, statement)
    try:
        bean = _hotspot(spark._jvm)
        if bean.getVMOption("TieredCompilation").getValue() != "true":
            return "C2 only (TieredCompilation is off)"
        c1 = int(bean.getVMOption("TieredStopAtLevel").getValue()) < 4
    except (Py4JError, ValueError) as e:
        return f"unknown ({e})"
    if c1 == bool(asked):
        return f"C1 only ({why})" if c1 else f"tiered ({why})"
    return ("C1 only (set by other JVM options)" if c1 else
            "tiered (other JVM options replaced the ones in spark.driver.defaultJavaOptions)")


def _hotspot(jvm):
    return jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))


# ------------------------------------------------------ class-data sharing
def _cds_plan(memory: str):
    """(state, java options, SPARK_CONF_DIR, archive, temp) for a JVM
    about to be launched with `memory` of heap.  `temp` is where the JVM
    dumps an archive as it exits, or None when it maps `archive` or
    (no options) launches as is.

    The archive is keyed by everything the JVM checks before it maps one:
    the JDK build, the Spark jars on the launcher classpath and the
    compressed-oops mode `memory` implies.  The JVM refuses to dump with a
    non-empty directory on the classpath, so the conf dir is swapped for an
    empty one, which is only safe when it holds nothing but templates.
    The first launch with a cache only marks it; the second dumps, and
    the third publishes that archive (_settle) and maps it."""
    def skip(why):
        return f"skipped: {why}", [], None, None, None

    if (why := _user_conf()) is not None:
        return skip(why)
    heap = _heap_bytes(memory)
    java_home = _java_home()
    if heap is None:
        return skip(f"cannot read the heap size {memory!r}")
    if java_home is None:
        return skip("no java found")
    cache = _cache_dir()
    if os.pathsep in cache:  # the JVM splits SharedArchiveFile on it
        return skip(f"the cache dir {cache} contains {os.pathsep!r}")
    empty_conf = os.path.join(cache, "empty-conf")
    try:
        os.makedirs(empty_conf, exist_ok=True)
        if os.listdir(empty_conf):
            return skip(f"{empty_conf} is not empty")
        archive = os.path.join(
            cache, f"driver-{_cds_key(java_home, empty_conf, heap <= _COOPS_MAX_HEAP)}.jsa")
        writing = _settle(archive)
        st = _stat(archive)
        if st is not None and st[0] == _published_size(archive):
            return f"mapped {archive}", [f"-XX:SharedArchiveFile={archive}", *_JVM_LOG_OPTS], \
                empty_conf, archive, None
        if os.path.exists(archive + ".failed"):
            with open(archive + ".failed") as fh:
                return skip(fh.read())
        if writing:
            return skip(f"another JVM is still writing the archive for {archive}")
        for path in (archive, archive + ".size"):
            _unlink(path)
        # A JVM that dumps runs slower (a cold taxi group-by on 4 cores:
        # ~20 s against ~15 s), so dump only once an earlier launch has
        # shown that this cache outlives its process.
        if not os.path.exists(archive + ".seen"):
            open(archive + ".seen", "w").close()
            return skip(f"first launch for {archive}; the next one dumps it")
    except OSError as e:
        return skip(e)
    temp = f"{archive}.{os.getpid()}.tmp"
    # -Xlog:cds=error drops the dump's per-class "Skipping ..." warnings
    return f"dumping {archive}", [f"-XX:ArchiveClassesAtExit={temp}", *_JVM_LOG_OPTS,
                                  "-Xlog:cds=error:stderr"], empty_conf, archive, temp


def _user_conf() -> str | None:
    """Why the Spark conf dir cannot be swapped for an empty one, if it
    cannot: it holds a file other than a template."""
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(_spark_home(), "conf")
    if os.path.isdir(conf):
        kept = sorted(n for n in os.listdir(conf) if not n.endswith(".template"))
        if kept:
            return f"the conf dir {conf} holds {kept[0]}"
    return None


def _launch_dumping_gateway(builder) -> None:
    """Start the driver JVM of `builder` with its stdout and stderr on
    pipes that this process copies to its own.  A dumping JVM writes its
    archive for ~20 s after this process exits; it must not hold the
    caller's stdout or stderr open for that long."""
    from pyspark import SparkConf, SparkContext
    from pyspark.java_gateway import launch_gateway

    conf = SparkConf().setAll(builder._options.items())  # what getOrCreate would pass
    gateway = launch_gateway(conf, popen_kwargs={"stdout": subprocess.PIPE,
                                                 "stderr": subprocess.PIPE})
    for pipe, fd in ((gateway.proc.stdout, 1), (gateway.proc.stderr, 2)):
        threading.Thread(target=_forward, args=(pipe, fd), daemon=True).start()
    SparkContext._ensure_initialized(gateway=gateway)


def _forward(pipe, fd: int) -> None:
    while chunk := os.read(pipe.fileno(), 1 << 16):
        try:
            os.write(fd, chunk)
        except OSError:  # keep draining, or the JVM blocks on a full pipe
            pass


def _check_launch(spark, archive: str, temp: str | None) -> str:
    """The archive state of the driver JVM just launched, read from the
    JVM itself.  A dumping JVM's pid and heap settings are recorded next
    to `temp`, for the launch that publishes its archive (_settle)."""
    from py4j.protocol import Py4JError

    jvm = spark._jvm
    try:
        bean = _hotspot(jvm)

        def flag(name: str) -> str:
            return bean.getVMOption(name).getValue()

        pid = jvm.ProcessHandle.current().pid()
        if flag("ArchiveClassesAtExit" if temp else "SharedArchiveFile") != (temp or archive):
            return ("skipped: other JVM options replaced the ones in "
                    "spark.driver.defaultJavaOptions")
        if temp is None:
            return f"mapped {archive}" if _maps(pid, archive) else \
                f"skipped: the driver JVM did not map {archive}"
        system = jvm.System
        oops = "+" if flag("UseCompressedOops") == "true" else "-"
        record = {"pid": pid,
                  "java": os.path.join(system.getProperty("java.home"), "bin", "java"),
                  "classpath": system.getProperty("java.class.path"),
                  "options": [f"-XX:MaxHeapSize={flag('MaxHeapSize')}",
                              f"-XX:{oops}UseCompressedOops"]}
        with open(temp[:-len("tmp")] + "json", "w") as fh:
            json.dump(record, fh)
    except (Py4JError, OSError) as e:
        return f"skipped: {e}"
    return f"dumping {archive}"


def _settle(archive: str) -> bool:
    """Publish or delete what the dumping JVMs of other processes left
    next to `archive`: a temp archive `<archive>.<owner pid>.tmp` and the
    record of its JVM, `<archive>.<owner pid>.json`.  True while one of
    those JVMs still runs."""
    writing = False
    stems = {path.rsplit(".", 1)[0] for ext in ("tmp", "json")
             for path in glob.glob(f"{glob.escape(archive)}.*.{ext}")}
    for stem in stems:
        owner = stem.rsplit(".", 1)[1]
        try:
            with open(stem + ".json") as fh:
                jvm = json.load(fh)
        except (OSError, ValueError):
            jvm = None
        if jvm is not None and _alive(jvm["pid"]) or jvm is None and owner.isdigit() \
                and int(owner) != os.getpid() and _alive(int(owner)):
            writing = True  # with no record yet, its owner is still launching it
            continue
        if jvm is not None:
            _publish(stem + ".tmp", archive, jvm)
        for path in (stem + ".tmp", stem + ".json"):
            _unlink(path)
    return writing


def _publish(temp: str, archive: str, jvm: dict) -> None:
    """Rename `temp` to `archive` if a JVM with the dumping JVM's heap
    settings and classpath, required to share it (-Xshare:on), starts with
    it.  A truncated archive crashes a JVM that maps it, so the size it was
    published at is recorded next to it and checked before every map.  A
    finished archive the probe rejects is recorded in `archive`.failed,
    which turns CDS off for its key; one whose JVM died while writing it
    (its header, written last, is still blank) is only deleted."""
    try:
        with open(temp, "rb") as fh:
            if fh.read(4) != _DYNAMIC_ARCHIVE_MAGIC:
                return
        probe = subprocess.run(
            [jvm["java"], *jvm["options"], "-Xshare:on", f"-XX:SharedArchiveFile={temp}",
             "-cp", jvm["classpath"], *_JVM_LOG_OPTS, "-XX:-UsePerfData",
             f"-XX:ErrorFile={os.devnull}", "-version"],
            stdin=subprocess.DEVNULL, capture_output=True, timeout=60)
        if probe.returncode != 0:
            with open(archive + ".failed", "w") as fh:
                fh.write(f"a JVM started with the archive dumped for {archive} "
                         f"exits with {probe.returncode}")
            return
        record = f"{archive}.size.{os.getpid()}"
        with open(record, "w") as fh:
            fh.write(str(os.path.getsize(temp)))
        os.replace(temp, archive)
        os.replace(record, archive + ".size")
    except (OSError, subprocess.TimeoutExpired):
        pass  # another launch published it, or it is unreadable: dump again


def _maps(pid: int, path: str) -> bool:
    """Whether process `pid` maps `path`; True where that cannot be read."""
    try:
        with open(f"/proc/{pid}/maps") as fh:
            return any(line.rstrip("\n").endswith(" " + path) for line in fh)
    except OSError:
        return True


def _cds_key(java_home: str, conf_dir: str, coops: bool) -> str:
    import pyspark

    h = hashlib.sha256()

    def add(*parts) -> None:
        h.update(repr(parts).encode())

    with open(os.path.join(java_home, "release"), "rb") as fh:
        add(os.path.realpath(java_home), fh.read())
    add(_stat(os.path.join(java_home, "lib", "server", "libjvm.so")))
    jars = os.path.join(_spark_home(), "jars")
    add(pyspark.__version__, os.path.realpath(jars), conf_dir, coops)
    for e in sorted(os.scandir(jars), key=lambda e: e.name):
        add(e.name, _stat(e.path))
    add(*(os.environ.get(v) for v in ("SPARK_DIST_CLASSPATH", "HADOOP_CONF_DIR",
                                       "YARN_CONF_DIR")))
    return h.hexdigest()[:16]


def _cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME", "")
    if not os.path.isabs(base):
        base = os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "dsq-spark")


def _spark_home() -> str:
    from pyspark.find_spark_home import _find_spark_home

    return _find_spark_home()


def _java_home() -> str | None:
    """The JDK the Spark launcher runs: $JAVA_HOME, else java on PATH."""
    if os.environ.get("JAVA_HOME"):
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java")
    else:
        java = shutil.which("java")
    if not java or not os.path.exists(java):
        return None
    return os.path.dirname(os.path.dirname(os.path.realpath(java)))


def _heap_bytes(memory: str) -> int | None:
    """-Xmx bytes of a Spark memory string ("9642m", "32g")."""
    m = re.fullmatch(r"(\d+)([kmgt]?)b?", memory.strip().lower())
    return None if m is None else int(m[1]) << {"": 0, "k": 10, "m": 20, "g": 30, "t": 40}[m[2]]


def _stat(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_size, st.st_mtime_ns


def _published_size(archive: str) -> int | None:
    try:
        with open(archive + ".size") as fh:
            return int(fh.read())
    except (OSError, ValueError):
        return None


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _unlink(path: str) -> None:
    try:
        os.remove(path)
    except FileNotFoundError:
        pass
