"""Session settings (kgforge/session.py): what ``launch_settings`` decides
for each master, ``extra_conf`` and archive branch, checked without a
JVM; the archive promotion at exit, checked against a stand-in process;
and a real session started in a subprocess from an absent, present,
truncated and foreign archive, and from a conf directory the archive
must not hide."""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys
import time

import pytest

from kgforge import session
from kgforge.session import DEBUGGING, JAVA_OPTIONS, LOCAL_LISTING_THRESHOLD, launch_settings

THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def install(tmp_path):
    """A stand-in Spark and JDK install plus a cache home: the archive
    branch only lists and stats them."""
    spark_home, java_home = tmp_path / "spark", tmp_path / "jdk"
    (spark_home / "conf").mkdir(parents=True)
    (spark_home / "conf" / "spark-defaults.conf.template").write_text("")
    (spark_home / "jars").mkdir()
    (spark_home / "jars" / "spark-core.jar").write_bytes(b"x" * 10)
    (java_home / "bin").mkdir(parents=True)
    (java_home / "bin" / "java").write_bytes(b"#!")
    return {
        "SPARK_HOME": str(spark_home),
        "JAVA_HOME": str(java_home),
        "XDG_CACHE_HOME": str(tmp_path / "cache"),
        "HOME": str(tmp_path),
        "PYTHONPATH": REPO,
    }


def _settings(environ, master="local[2]", extra_conf=None, gateway_running=False):
    before = dict(environ)
    launch = launch_settings(master, 4, 64, extra_conf, environ, gateway_running)
    assert environ == before  # read, never written
    return launch


def _cds(environ):
    return os.path.join(environ["XDG_CACHE_HOME"], "kgforge", "cds")


def test_local_master_lists_on_the_driver_and_others_keep_the_default(install):
    assert _settings(install).conf[THRESHOLD] == str(LOCAL_LISTING_THRESHOLD)
    assert _settings(install, master="local").conf[THRESHOLD] == str(
        LOCAL_LISTING_THRESHOLD)
    for master in ("spark://host:7077", "yarn", "local-cluster[2,1,1024]"):
        assert THRESHOLD not in _settings(install, master=master).conf


def test_extra_conf_wins(install):
    extra = {THRESHOLD: "7", "spark.sql.shuffle.partitions": "3",
             "spark.driver.memory": "1g", "spark.kgforge.marker": "on"}
    conf = _settings(install, extra_conf=extra).conf
    assert {k: conf[k] for k in extra} == extra
    assert conf["spark.sql.session.timeZone"] == "UTC"


def test_dataframe_debugging_is_off_unless_asked_for(install):
    """No Python call site is captured around each Column function,
    unless ``extra_conf`` turns the capture back on."""
    assert _settings(install).conf[DEBUGGING] == "false"
    assert _settings(install, extra_conf={DEBUGGING: "true"}).conf[DEBUGGING] == "true"


def test_defaults_come_from_the_environment(install):
    env = {**install, "SPARK_GRAFT_CPUS": "3", "KGFORGE_SHUFFLE_PARTITIONS": "5",
           "KGFORGE_DRIVER_MEMORY": "2g"}
    launch = launch_settings(None, None, 64, None, env, True)
    assert launch.master == "local[3]"
    assert launch.conf["spark.sql.shuffle.partitions"] == "5"
    assert launch.conf["spark.driver.memory"] == "2g"
    assert launch.env == {}  # the repo is already on PYTHONPATH
    other = launch_settings(None, None, 64, None, {**env, "PYTHONPATH": "/lib"}, True)
    assert other.env == {"PYTHONPATH": REPO + os.pathsep + "/lib"}


def test_archive_absent_dumps_at_exit(install):
    launch = _settings(install)
    cds = _cds(install)
    assert launch.gateway_env == {"SPARK_CONF_DIR": os.path.join(cds, "conf")}
    assert os.listdir(os.path.join(cds, "conf")) == []
    assert os.path.dirname(launch.dump) == cds
    assert launch.dump.endswith(f".jsa.{os.getpid()}.tmp")
    assert launch.conf[JAVA_OPTIONS] == (
        f"-XX:ArchiveClassesAtExit={launch.dump} -Xlog:cds*=off")


def test_archive_present_is_loaded_and_a_wrong_size_is_not(install):
    key = os.path.basename(_settings(install).dump).split(".")[0]
    archive = os.path.join(_cds(install), f"{key}.100.jsa")
    with open(archive, "wb") as fh:
        fh.write(b"\0" * 99)  # truncated: its name says 100 bytes
    assert _settings(install).dump is not None
    with open(archive, "ab") as fh:
        fh.write(b"\0")
    launch = _settings(install)
    assert launch.dump is None
    assert launch.conf[JAVA_OPTIONS] == f"-XX:SharedArchiveFile={archive} -Xlog:cds*=off"
    assert launch.gateway_env == {"SPARK_CONF_DIR": os.path.join(_cds(install), "conf")}
    # another jar set is another key
    with open(os.path.join(install["SPARK_HOME"], "jars", "extra.jar"), "wb") as fh:
        fh.write(b"y")
    assert _settings(install).dump is not None


def test_archive_path_with_a_space_is_quoted(install):
    install["XDG_CACHE_HOME"] += " dir"
    opts = _settings(install).conf[JAVA_OPTIONS]
    assert opts.startswith('"-XX:ArchiveClassesAtExit=')
    assert opts.endswith('.tmp" -Xlog:cds*=off')


@pytest.mark.parametrize("case", [
    "conf_file", "hadoop_conf_dir", "yarn_conf_dir", "dist_classpath", "submit_args",
    "unwritable_cache", "own_java_options", "extra_class_path", "gateway_running",
    "no_java",
])
def test_archive_skip_rules(install, tmp_path, case):
    extra, running = {}, False
    if case == "conf_file":
        conf_dir = tmp_path / "conf"
        conf_dir.mkdir()
        (conf_dir / "log4j2.properties.template").write_text("")
        (conf_dir / "spark-defaults.conf").write_text("spark.kgforge.marker on\n")
        install["SPARK_CONF_DIR"] = str(conf_dir)
    elif case == "hadoop_conf_dir":
        install["HADOOP_CONF_DIR"] = str(tmp_path)
    elif case == "yarn_conf_dir":
        install["YARN_CONF_DIR"] = str(tmp_path)
    elif case == "dist_classpath":
        install["SPARK_DIST_CLASSPATH"] = str(tmp_path)
    elif case == "submit_args":
        install["PYSPARK_SUBMIT_ARGS"] = "--driver-class-path /x pyspark-shell"
    elif case == "unwritable_cache":
        (tmp_path / "a-file").write_text("")  # no directory can be made under it
        install["XDG_CACHE_HOME"] = str(tmp_path / "a-file")
    elif case == "own_java_options":
        extra = {JAVA_OPTIONS: "-Dmine=1"}
    elif case == "extra_class_path":
        extra = {"spark.driver.extraClassPath": str(tmp_path)}
    elif case == "gateway_running":
        running = True
    elif case == "no_java":
        del install["JAVA_HOME"]
        install["PATH"] = str(tmp_path)
    launch = _settings(install, extra_conf=extra, gateway_running=running)
    assert launch.gateway_env == {} and launch.dump is None
    assert launch.conf.get(JAVA_OPTIONS) == extra.get(JAVA_OPTIONS)


def test_a_conf_dir_of_templates_keeps_the_archive(install, tmp_path):
    conf_dir = tmp_path / "conf"
    conf_dir.mkdir()
    (conf_dir / "spark-env.sh.template").write_text("")
    install["SPARK_CONF_DIR"] = str(conf_dir)
    assert _settings(install).dump is not None


def _dumping(tmp_path, script):
    """A stand-in gateway: a process that runs ``script`` after EOF on its
    stdin, and the temp file it 'dumped'."""
    dump = tmp_path / f"k{'0' * 23}.jsa.{os.getpid()}.tmp"
    dump.write_bytes(b"a" * 123)
    proc = subprocess.Popen(["sh", "-c", f"cat >/dev/null; {script}"],
                            stdin=subprocess.PIPE)
    return proc, str(dump)


def test_promote_renames_a_clean_exit_and_prunes(tmp_path):
    old = tmp_path / "oldkey.5.jsa"
    old.write_bytes(b"b" * 5)
    orphan = tmp_path / "oldkey.jsa.999999999.tmp"  # no such process
    orphan.write_bytes(b"c")
    live = tmp_path / f"oldkey.jsa.{os.getppid()}.tmp"
    live.write_bytes(b"d")
    proc, dump = _dumping(tmp_path, "exit 0")
    session._promote(proc, dump)
    assert proc.returncode == 0
    assert sorted(os.listdir(tmp_path)) == sorted(
        [f"k{'0' * 23}.123.jsa", live.name])


def test_promote_drops_a_failed_dump(tmp_path):
    proc, dump = _dumping(tmp_path, "exit 3")
    session._promote(proc, dump)
    assert proc.returncode == 3 and os.listdir(tmp_path) == []


def test_promote_kills_a_dump_past_its_bound(tmp_path, monkeypatch):
    monkeypatch.setattr(session, "_DUMP_WAIT_S", 0.5)
    proc, dump = _dumping(tmp_path, "exec sleep 60")
    t0 = time.monotonic()
    session._promote(proc, dump)
    assert time.monotonic() - t0 < 30
    assert proc.returncode is not None and proc.returncode != 0
    assert os.listdir(tmp_path) == []


# --- a real gateway JVM, one subprocess per case -----------------------------

CHILD = """
import json
from kgforge.session import get_spark
spark = get_spark("archive-test", master="local[1]", shuffle_partitions=1,
                  extra_conf={"spark.driver.memory": "1g"})
spark.sparkContext.setLogLevel("ERROR")
rows = spark.range(30).selectExpr("id % 3 AS k").groupBy("k").count().count()
proc = spark.sparkContext._gateway.proc
with open(f"/proc/{proc.pid}/maps") as fh:
    maps = fh.read().splitlines()
mapped = sorted({ln.split()[-1] for ln in maps if ln.endswith(".jsa")})
conf = spark.sparkContext.getConf()
print(json.dumps({"rows": rows, "mapped": mapped,
                  "opts": conf.get("spark.driver.defaultJavaOptions", ""),
                  "marker": conf.get("spark.kgforge.marker", "")}))
"""


def _processes_mentioning(text: str) -> list[int]:
    """Live processes whose command line or environment holds ``text``."""
    found = []
    for d in glob.glob("/proc/[0-9]*"):
        try:
            with open(f"{d}/cmdline", "rb") as fh:
                blob = fh.read()
            with open(f"{d}/environ", "rb") as fh:
                blob += fh.read()
        except OSError:
            continue
        if text.encode() in blob:
            found.append(int(os.path.basename(d)))
    return found


def _run_child(xdg, cwd, **env):
    """Start a session in a fresh interpreter with ``XDG_CACHE_HOME=xdg``;
    return its one result line, after checking it printed nothing else
    on stdout, left no JVM crash log in ``cwd`` and left no process."""
    os.makedirs(cwd, exist_ok=True)
    child_env = {k: v for k, v in os.environ.items()
                 if k not in ("SPARK_CONF_DIR", "PYSPARK_SUBMIT_ARGS")}
    child_env.update(XDG_CACHE_HOME=str(xdg), PYTHONPATH=REPO, **env)
    proc = subprocess.run([sys.executable, "-c", CHILD], cwd=cwd, env=child_env,
                          capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.splitlines()
    assert len(lines) == 1, proc.stdout[:3000]
    assert not glob.glob(os.path.join(cwd, "hs_err_pid*.log"))
    deadline = time.monotonic() + 60
    while _processes_mentioning(str(xdg)) and time.monotonic() < deadline:
        time.sleep(0.5)
    assert not _processes_mentioning(str(xdg))
    res = json.loads(lines[0])
    assert res["rows"] == 3
    return res


def _archives(xdg) -> list[str]:
    return glob.glob(os.path.join(str(xdg), "kgforge", "cds", "*.jsa"))


@pytest.fixture(scope="module")
def written(tmp_path_factory):
    """One cache whose archive a real session wrote at exit, and a copy
    of that archive for the cases that damage it."""
    root = tmp_path_factory.mktemp("cds")
    xdg = root / "xdg"
    res = _run_child(xdg, root / "cwd")
    pristine = root / "pristine.jsa"
    (archive,) = _archives(xdg)
    shutil.copyfile(archive, pristine)
    yield root, xdg, res, pristine
    shutil.rmtree(root, ignore_errors=True)  # two archives of ~140 MB


def _restore(written) -> str:
    """Put the pristine archive back, under the name it was promoted to."""
    _root, xdg, _res, pristine = written
    (current,) = _archives(xdg)
    key = os.path.basename(current).split(".")[0]
    os.remove(current)
    archive = os.path.join(os.path.dirname(current),
                           f"{key}.{os.path.getsize(pristine)}.jsa")
    shutil.copyfile(pristine, archive)
    return archive


def test_absent_archive_is_written_at_exit(written):
    _root, xdg, res, _pristine = written
    assert "-XX:ArchiveClassesAtExit=" in res["opts"]
    (archive,) = _archives(xdg)
    assert os.path.getsize(archive) == int(archive.rsplit(".", 2)[-2]) > 0
    assert not glob.glob(os.path.join(str(xdg), "kgforge", "cds", "*.tmp"))


def test_present_archive_is_mapped(written):
    archive = _restore(written)
    res = _run_child(written[1], written[0] / "cwd")
    assert res["opts"] == f"-XX:SharedArchiveFile={archive} -Xlog:cds*=off"
    assert archive in res["mapped"]


def test_truncated_archive_is_never_loaded(written):
    archive = _restore(written)
    with open(archive, "r+b") as fh:
        fh.truncate(os.path.getsize(archive) // 2)
    res = _run_child(written[1], written[0] / "cwd")
    assert "-XX:ArchiveClassesAtExit=" in res["opts"]
    assert archive not in res["mapped"]
    (rewritten,) = _archives(written[1])  # written again, the broken one gone
    assert os.path.getsize(rewritten) == int(rewritten.rsplit(".", 2)[-2])


def test_archive_of_another_jvm_build_is_ignored(written):
    archive = _restore(written)
    with open(archive, "r+b") as fh:
        # the header records the JVM's identity: "<name> VM (<version>) ..."
        fh.seek(fh.read(1 << 16).index(b" VM (") + len(b" VM ("))
        fh.write(b"X")
    res = _run_child(written[1], written[0] / "cwd")
    assert res["opts"] == f"-XX:SharedArchiveFile={archive} -Xlog:cds*=off"
    assert archive not in res["mapped"]


def test_user_conf_dir_keeps_its_settings_and_no_archive(written, tmp_path):
    conf_dir = tmp_path / "conf"
    conf_dir.mkdir()
    (conf_dir / "spark-defaults.conf").write_text("spark.kgforge.marker on\n")
    res = _run_child(written[1], written[0] / "cwd", SPARK_CONF_DIR=str(conf_dir))
    assert res["opts"] == "" and res["marker"] == "on"
