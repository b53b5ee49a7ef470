"""Session factory: the driver JVM's compiler-thread flag and its
class-data-sharing (CDS) archive."""

import io
import os

from bioie_llm_spark.session import (
    DRIVER_JAVA_OPTIONS,
    cds_key,
    cds_plan,
    driver_java_options,
    publish_archive,
)

CDS_FLAGS = ("-XX:SharedArchiveFile=", "-XX:ArchiveClassesAtExit=")


def test_driver_jvm_runs_with_flag(spark):
    """The flags reach the running JVM's own arguments, not only the conf:
    the compiler-thread count and one CDS flag (dump or map)."""
    jvm = spark.sparkContext._jvm
    args = list(
        jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
    )
    assert "-XX:CICompilerCount=2" in args, args
    assert sum(a.startswith(CDS_FLAGS) for a in args) == 1, args


def test_driver_java_options_merge():
    """The constant comes first and a caller's flags follow it, so the
    caller's repeat of a flag is the one the JVM keeps."""
    assert driver_java_options() == DRIVER_JAVA_OPTIONS
    assert driver_java_options("") == DRIVER_JAVA_OPTIONS
    assert (
        driver_java_options("-XX:CICompilerCount=4 -Dx=1")
        == f"{DRIVER_JAVA_OPTIONS} -XX:CICompilerCount=4 -Dx=1"
    )
    assert (
        driver_java_options("-XX:CICompilerCount=4", cds="-XX:SharedArchiveFile=a")
        == f"{DRIVER_JAVA_OPTIONS} -XX:SharedArchiveFile=a -XX:CICompilerCount=4"
    )


def _box(tmp_path, conf_files=("spark-defaults.conf.template",)):
    """A fake Spark install and JDK, and the environment that names them."""
    home = tmp_path / "spark"
    (home / "jars").mkdir(parents=True)
    for name in ("a.jar", "b.jar"):
        (home / "jars" / name).write_bytes(b"jar")
    (home / "conf").mkdir()
    for name in conf_files:
        (home / "conf" / name).write_text("")
    java = tmp_path / "jdk" / "bin" / "java"
    java.parent.mkdir(parents=True)
    java.write_bytes(b"java")
    env = {"JAVA_HOME": str(tmp_path / "jdk"), "XDG_CACHE_HOME": str(tmp_path / "cache")}
    return str(home), env


def test_cds_key_tracks_jars_and_java(tmp_path, monkeypatch):
    """The key moves with a jar's mtime and with the java binary, and not
    with the checkout a session starts from."""
    home, env = _box(tmp_path)
    java, jars = os.path.join(env["JAVA_HOME"], "bin", "java"), os.path.join(home, "jars")
    k0 = cds_key(java, jars)
    os.utime(os.path.join(jars, "a.jar"), (1, 1))
    k1 = cds_key(java, jars)
    assert k1 != k0
    with open(java, "ab") as f:
        f.write(b"17.0.21")
    assert cds_key(java, jars) != k1

    archives = []
    for checkout in ("one", "two"):
        (tmp_path / checkout).mkdir()
        monkeypatch.chdir(tmp_path / checkout)
        archives.append(cds_plan(home, env).archive)
    assert archives[0] == archives[1]


def test_cds_conf_dir_rule(tmp_path):
    """A conf directory of templates only, or none at all, is swapped for
    an empty one in the cache; a real ``spark-defaults.conf`` keeps CDS off
    and the environment as it was."""
    home, env = _box(tmp_path)
    empty = os.path.join(env["XDG_CACHE_HOME"], "bioie_llm_spark", "cds", "conf")
    assert cds_plan(home, env).conf_dir == empty
    assert os.listdir(empty) == []

    absent = dict(env, SPARK_CONF_DIR=str(tmp_path / "no-such-conf"))
    assert cds_plan(home, absent).conf_dir == empty

    (tmp_path / "spark" / "conf" / "spark-defaults.conf").write_text("spark.x 1\n")
    before = dict(env)
    assert cds_plan(home, env) is None
    assert env == before and "SPARK_CONF_DIR" not in env


def test_cds_flag_choice(tmp_path):
    """A session dumps to a fresh ``.part`` until the archive exists, and a
    leftover ``.part`` file is never mapped."""
    home, env = _box(tmp_path)
    plan = cds_plan(home, env)
    assert plan.part.startswith(plan.archive + ".") and plan.part.endswith(".part")
    assert plan.flags.startswith(f"-XX:ArchiveClassesAtExit={plan.part} ")
    assert "-Xlog:all=warning:stderr" in plan.flags

    open(plan.part, "wb").close()  # a killed dump's leftover
    again = cds_plan(home, env)
    assert "SharedArchiveFile" not in again.flags and again.part != plan.part

    open(plan.archive, "wb").close()
    mapped = cds_plan(home, env)
    assert mapped.part is None
    assert mapped.flags.startswith(f"-XX:SharedArchiveFile={plan.archive} ")
    assert "-Xlog:all=warning:stderr" in mapped.flags


def test_cds_unwritable_cache(tmp_path):
    """A cache directory that cannot be made means no CDS flag at all."""
    home, env = _box(tmp_path)
    (tmp_path / "file").write_text("")
    assert cds_plan(home, dict(env, XDG_CACHE_HOME=str(tmp_path / "file"))) is None


class _Proc:
    def __init__(self, code):
        self.stdin, self.code = io.BytesIO(), code

    def wait(self, timeout=None):
        return self.code


def test_publish_archive_rule(tmp_path):
    """Only a JVM that exited 0 and wrote its ``.part`` publishes it;
    otherwise the part goes and no archive appears."""
    archive, part = str(tmp_path / "k.jsa"), str(tmp_path / "k.jsa.u.part")

    for code, wrote in ((1, True), (0, False), (-9, True)):
        if wrote:
            open(part, "wb").close()
        proc = _Proc(code)
        assert not publish_archive(proc, part, archive)
        assert proc.stdin.closed
        assert not os.path.exists(archive) and not os.path.exists(part)

    with open(part, "wb") as f:
        f.write(b"archive")
    assert publish_archive(_Proc(0), part, archive)
    assert open(archive, "rb").read() == b"archive" and not os.path.exists(part)
