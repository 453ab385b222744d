"""The driver JVM's class-data archive (dsq_spark.session): a real
`python -m dsq_spark.cli` process per call, with $XDG_CACHE_HOME in a
temp dir.  The archive changes start-up time only, so every call that
runs must print exactly what a call without an archive prints, whatever
it finds at the archive's path."""

from __future__ import annotations

import glob
import io
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
from contextlib import redirect_stdout

import pytest

from dsq_spark import session
from dsq_spark.cli import run

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
QUERY = ("SELECT passengers, COUNT(*) AS n, SUM(fare) AS total FROM {} "
         "GROUP BY passengers ORDER BY passengers")


@pytest.fixture(scope="module")
def work(tmp_path_factory):
    if session._user_conf() is not None:
        pytest.skip("this host's Spark conf dir holds more than templates")
    d = tmp_path_factory.mktemp("cds")
    with open(d / "taxi.csv", "w") as fh:
        fh.write("passengers,fare\n")
        for i in range(300):
            fh.write(f"{i % 5},{(i * 37) % 101}.25\n")
    return d


@pytest.fixture(scope="module")
def golden(work, spark):
    """What the taxi statement prints from a session that maps no archive."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        assert run([str(work / "taxi.csv"), QUERY], spark) == 0
    return buf.getvalue()


def _cli(work, *argv, **env) -> tuple[subprocess.CompletedProcess, str]:
    """One CLI call with --verbose: (the process, its archive state)."""
    full = {k: v for k, v in os.environ.items() if k != "SPARK_CONF_DIR"}
    full.update(XDG_CACHE_HOME=str(work / "xdg"), DSQ_SPARK_CACHE_DIR=str(work / "dsq"),
                TMPDIR=str(work / "tmp"))
    full.update(env)
    os.makedirs(full["TMPDIR"], exist_ok=True)
    p = subprocess.run([sys.executable, "-m", "dsq_spark.cli", "--verbose", *argv],
                       cwd=REPO, env=full, capture_output=True, text=True, timeout=600)
    for root in (full["DSQ_SPARK_CACHE_DIR"], full["TMPDIR"]):
        for _, _, names in os.walk(root):
            assert not [n for n in names if ".jsa" in n], (root, names)
    m = re.search(r"^dsq-spark: class-data archive: (.*)$", p.stderr, re.M)
    return p, m[1] if m else None


def _taxi(work, **env):
    p, state = _cli(work, str(work / "taxi.csv"), QUERY, **env)
    assert p.returncode == 0, p.stderr[-3000:]
    return p.stdout, state


def _published(archive: str) -> bool:
    with open(archive + ".size") as fh:
        return os.path.getsize(archive) == int(fh.read())


def _dumping_jvms(archive: str) -> dict[str, dict]:
    """The records of the JVMs that dump an archive for `archive`."""
    out = {}
    for path in glob.glob(glob.escape(archive) + ".*.json"):
        with open(path) as fh:
            out[path] = json.load(fh)
    return out


def _wait(archive: str) -> None:
    """Wait until every JVM dumping an archive for `archive` has exited."""
    deadline = time.monotonic() + 180
    for jvm in _dumping_jvms(archive).values():
        while session._alive(jvm["pid"]):
            assert time.monotonic() < deadline, f"JVM {jvm['pid']} still dumping"
            time.sleep(0.2)


def _first_launch(xdg) -> str:
    """Plan a launch in this process, as the first launch with cache home
    `xdg` does (it only marks the cache), and return the archive path."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setenv("XDG_CACHE_HOME", str(xdg))
        state = session._cds_plan(session.driver_memory())[0]
    m = re.fullmatch(r"skipped: first launch for (.*); the next one dumps it", state)
    assert m, state
    return m[1]


@pytest.fixture(scope="module")
def dumped(work, golden):
    """The first call only marks the cache, since a cache that does not
    outlive its process should never pay for a dump.  The second returns
    while its JVM dumps the archive; the third publishes it and maps it.
    Yields (archive, the dumping JVM's record)."""
    out, state = _taxi(work)
    assert out == golden
    m = re.fullmatch(r"skipped: first launch for (.*); the next one dumps it", state)
    path = m[1]
    assert path.startswith(str(work / "xdg" / "dsq-spark") + os.sep)
    assert sorted(os.listdir(os.path.dirname(path))) == \
        [os.path.basename(path) + ".seen", "empty-conf"]
    assert _taxi(work) == (golden, f"dumping {path}")
    assert not os.path.exists(path)  # a later launch publishes it
    [jvm] = _dumping_jvms(path).values()
    _wait(path)
    assert _taxi(work) == (golden, f"mapped {path}")
    return path, jvm


@pytest.fixture(scope="module")
def archive(dumped):
    return dumped[0]


def test_the_second_call_dumps_and_the_third_maps(archive):
    assert _published(archive)
    name = os.path.basename(archive)
    assert sorted(os.listdir(os.path.dirname(archive))) == \
        [name, name + ".seen", name + ".size", "empty-conf"]


def _replace(archive: str, data: bytes, record: bool) -> None:
    os.remove(archive)  # the JVM writes it read-only
    with open(archive, "wb") as fh:
        fh.write(data)
    if record:
        with open(archive + ".size", "w") as fh:
            fh.write(str(len(data)))


@pytest.fixture
def restore(archive, work):
    keep = str(work / "kept.jsa")
    shutil.copyfile(archive, keep)
    shutil.copyfile(archive + ".size", keep + ".size")
    yield archive
    os.replace(keep, archive)
    os.replace(keep + ".size", archive + ".size")


def test_truncated_archive_is_dumped_again(work, golden, restore, monkeypatch):
    """A truncated archive kills the JVM that maps it (SIGBUS), so a file
    whose size is not the published one is never mapped.  Killing the
    JVM that dumps the new one leaves no mark: the next launch dumps again,
    or maps the archive if the dump had finished."""
    with open(restore, "rb") as fh:
        _replace(restore, fh.read(os.path.getsize(restore) // 2), record=False)
    assert _taxi(work) == (golden, f"dumping {restore}")
    assert not os.path.exists(restore)
    [jvm] = _dumping_jvms(restore).values()
    os.kill(jvm["pid"], signal.SIGKILL)
    _wait(restore)
    monkeypatch.setenv("XDG_CACHE_HOME", str(work / "xdg"))
    state = session._cds_plan(session.driver_memory())[0]
    assert state in (f"dumping {restore}", f"mapped {restore}")
    left = os.listdir(os.path.dirname(restore))
    assert not [n for n in left if n.endswith((".tmp", ".json", ".failed"))], left


def test_junk_at_the_archive_path_is_ignored(work, golden, restore):
    _replace(restore, os.urandom(1 << 20), record=True)
    assert _taxi(work) == (golden, f"skipped: the driver JVM did not map {restore}")


@pytest.fixture(scope="module")
def other_heap_mode(work, golden):
    """--driver-memory in PYSPARK_SUBMIT_ARGS outranks the builder's heap
    and flips the compressed-oops mode.  The archive is probed with the
    heap the JVM really ran with, so it is published, and the next such
    call maps it instead of dumping again."""
    coops = session._heap_bytes(session.driver_memory()) <= session._COOPS_MAX_HEAP
    env = dict(XDG_CACHE_HOME=str(work / "xdg-heap"),
               PYSPARK_SUBMIT_ARGS=f"--driver-memory {'33g' if coops else '1g'} pyspark-shell")
    path = _first_launch(env["XDG_CACHE_HOME"])
    assert _taxi(work, **env) == (golden, f"dumping {path}")
    [jvm] = _dumping_jvms(path).values()
    assert jvm["options"][1] == f"-XX:{'-' if coops else '+'}UseCompressedOops"
    _wait(path)
    assert _taxi(work, **env) == (golden, f"mapped {path}")
    return path


def test_forced_heap_mode_dumps_once(other_heap_mode):
    assert _published(other_heap_mode)


def test_archive_of_the_other_heap_mode_is_ignored(work, golden, restore, other_heap_mode):
    with open(other_heap_mode, "rb") as fh:
        _replace(restore, fh.read(), record=True)
    assert _taxi(work) == (golden, f"skipped: the driver JVM did not map {restore}")


def test_overridden_java_options_dump_nothing(work, golden):
    """spark.driver.defaultJavaOptions from PYSPARK_SUBMIT_ARGS replaces
    the dump flag: the JVM, asked after launch, says so, and nothing is
    written or printed beyond the --verbose line."""
    xdg = work / "xdg-override"
    _first_launch(xdg)
    p, state = _cli(work, str(work / "taxi.csv"), QUERY, XDG_CACHE_HOME=str(xdg),
                    PYSPARK_SUBMIT_ARGS="--conf spark.driver.defaultJavaOptions=-Da=b "
                                        "pyspark-shell")
    assert p.returncode == 0 and p.stdout == golden
    assert state == ("skipped: other JVM options replaced the ones in "
                     "spark.driver.defaultJavaOptions")
    assert p.stderr.count("archive") == 1
    assert not [n for n in os.listdir(xdg / "dsq-spark") if n.endswith((".jsa", ".tmp", ".json"))]


def test_user_conf_dir_skips_the_archive(work):
    """A conf dir with a spark-defaults.conf stays on the launch, and
    no archive is dumped or mapped."""
    conf = work / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.sql.caseSensitive true\n")
    (work / "ab.csv").write_text("a,b\n1,x\n")
    xdg = work / "xdg-conf"
    p, state = _cli(work, str(work / "ab.csv"), "SELECT A FROM {}",
                    SPARK_CONF_DIR=str(conf), XDG_CACHE_HOME=str(xdg))
    assert state == f"skipped: the conf dir {conf} holds spark-defaults.conf"
    assert p.returncode != 0 and "UNRESOLVED_COLUMN" in p.stderr
    assert not xdg.exists()


def test_publish_probes_the_archive(work, dumped):
    """Only an archive that a -Xshare:on JVM with the dumping JVM's heap
    settings and classpath starts with is published.  One the probe
    rejects is recorded as failed; one whose header is still blank (its
    JVM died while writing it) is not."""
    archive, jvm = dumped
    target = str(work / "probed.jsa")
    temp = target + ".1.tmp"
    with open(archive, "rb") as src:
        data = src.read()
    with open(temp, "wb") as dst:
        dst.write(bytes(4096) + data[4096:len(data) // 2])
    session._publish(temp, target, jvm)
    assert not os.path.exists(target) and not os.path.exists(target + ".failed")
    with open(temp, "wb") as dst:
        dst.write(data[:len(data) // 2])
    session._publish(temp, target, jvm)
    assert not os.path.exists(target)
    with open(target + ".failed") as fh:
        assert re.fullmatch(f"a JVM started with the archive dumped for {re.escape(target)} "
                            r"exits with -?\d+", fh.read())
    os.remove(target + ".failed")
    with open(temp, "wb") as dst:
        dst.write(data)
    session._publish(temp, target, jvm)
    assert _published(target) and not os.path.exists(temp)


def test_settle_leaves_a_live_dump_and_clears_a_dead_one(work, monkeypatch):
    """A launch publishes nothing while the dumping JVM lives, and skips
    CDS rather than dump a second archive; once that JVM is gone, its
    blank temp file and record are deleted and the next launch dumps."""
    archive = _first_launch(work / "xdg-settle")
    monkeypatch.setenv("XDG_CACHE_HOME", str(work / "xdg-settle"))
    memory = session.driver_memory()
    stem = f"{archive}.{os.getppid()}"
    with open(stem + ".tmp", "wb") as fh:
        fh.write(bytes(4096))
    with open(stem + ".json", "w") as fh:
        json.dump({"pid": os.getpid(), "java": "java", "classpath": "", "options": []}, fh)
    assert session._cds_plan(memory)[0] == \
        f"skipped: another JVM is still writing the archive for {archive}"
    dead = subprocess.run([sys.executable, "-c", "import os; print(os.getpid())"],
                          capture_output=True, text=True).stdout
    with open(stem + ".json", "w") as fh:
        json.dump({"pid": int(dead), "java": "java", "classpath": "", "options": []}, fh)
    assert session._cds_plan(memory)[0] == f"dumping {archive}"
    assert not [n for n in os.listdir(os.path.dirname(archive)) if n.endswith((".tmp", ".json"))]


def test_a_rejected_archive_turns_cds_off_for_its_key(work, monkeypatch):
    archive = _first_launch(work / "xdg-failed")
    monkeypatch.setenv("XDG_CACHE_HOME", str(work / "xdg-failed"))
    memory = session.driver_memory()
    assert session._cds_plan(memory)[0] == f"dumping {archive}"
    with open(archive + ".failed", "w") as fh:
        fh.write(f"a JVM started with the archive dumped for {archive} exits with 134")
    assert session._cds_plan(memory)[0] == \
        f"skipped: a JVM started with the archive dumped for {archive} exits with 134"
