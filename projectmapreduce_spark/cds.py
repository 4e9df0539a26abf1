"""Class-data sharing for the driver JVM: a static AppCDS archive.

Starting the driver JVM loads and verifies about 16.5k classes from the
Spark jars.  JDK 17 can map them instead from a static application
class-data-sharing archive (JEP 310), dumped on this host from the
installed JDK and jars and a class list committed next to this module
(``cds_classlist.txt``, regenerated by ``scripts/make_cds_classlist.py``).

The archive lives outside any checkout, at
``${XDG_CACHE_HOME:-~/.cache}/projectmapreduce_spark/cds/<key>.jsa``, so
worktrees and benchmark runs share it.  ``<key>`` hashes everything the
JVM checks the archive against: the JDK (``java.home`` and its
``release`` file), the name, size and mtime of every jar in the Spark
home's ``jars/``, the engine-owned empty conf directory the driver is
launched with, and the class list.  A new JDK, a changed jar or an
edited class list therefore starts a new archive, and a successful build
deletes the files of every other key: one archive, about 230 MB.

The JVM accepts the archive only when its classpath starts with the
dump's, so the builder dumps against the classpath Spark's own launcher
prints for a driver (``bin/spark-class`` with
``SPARK_PRINT_LAUNCH_COMMAND``): the conf directory, the launcher's
pinned ``slf4j-api`` jar, then ``jars/*``.  A non-empty directory on
it, such as Spark's ``conf/`` with its ``*.template`` files, makes the
JVM refuse the archive.  ``locate`` therefore gives a target
only when the configured conf directory holds nothing but templates, so
that launching with the empty one instead drops no configuration.

``session.get_spark`` uses this module; run as a script, it is the
detached builder ``start_build`` starts.  It imports only the standard
library, so the builder starts without pyspark.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import os
import resource
import shutil
import subprocess
import sys
import time
from typing import NamedTuple

CLASSLIST = os.path.join(os.path.dirname(os.path.abspath(__file__)), "cds_classlist.txt")

# The JVM reports CDS problems through unified logging, which prints
# warnings on stdout; stdout belongs to the engine's callers, so CDS
# messages go to stderr instead.
LOG_OPTIONS = "-Xlog:cds*=off -Xlog:cds*=warning:stderr"

# A lock file whose pid cannot be read yet is a builder between creating
# the file and writing its pid, unless it has been like that this long.
_UNREAD_LOCK_S = 60.0


class Target(NamedTuple):
    """The archive a driver JVM launched now would map, and how to dump it."""

    archive: str  # <cache>/<key>.jsa; may not exist yet
    conf_dir: str  # the empty SPARK_CONF_DIR the driver is launched with
    spark_home: str


def cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "projectmapreduce_spark", "cds")


def java_executable() -> str | None:
    """The java that Spark's ``bin/spark-class`` runs."""
    if os.environ.get("JAVA_HOME"):
        return os.path.join(os.environ["JAVA_HOME"], "bin", "java")
    return shutil.which("java")


def templates_only(conf_dir: str) -> bool:
    """True when ``conf_dir`` holds no configuration, only ``*.template``
    files (or does not exist)."""
    try:
        names = os.listdir(conf_dir)
    except FileNotFoundError:
        return True
    return all(n.endswith(".template") for n in names)


def archive_key(java_home: str, jars_dir: str, conf_dir: str) -> str:
    h = hashlib.sha256()
    h.update(java_home.encode() + b"\0")
    with contextlib.suppress(FileNotFoundError), open(os.path.join(java_home, "release"), "rb") as f:
        h.update(f.read())
    for name in sorted(os.listdir(jars_dir)):
        if name.lower().endswith(".jar"):  # what the JVM expands jars/* to
            st = os.stat(os.path.join(jars_dir, name))
            h.update(f"\0{name}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    h.update(b"\0" + conf_dir.encode() + b"\0")
    with open(CLASSLIST, "rb") as f:
        h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:20]


def locate(spark_home: str) -> Target | None:
    """The archive target for a driver launched now from ``spark_home``,
    or None when no archive can serve it: the configured conf directory
    holds real configuration, no java or jars are found, or the cache
    directory cannot be made."""
    java = java_executable()
    jars = os.path.join(spark_home, "jars")
    configured = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    if java is None or not os.path.isdir(jars) or not templates_only(configured):
        return None
    try:
        root = cache_dir()
        conf = os.path.join(root, "conf")
        os.makedirs(conf, exist_ok=True)
        if os.listdir(conf) or any(c.isspace() for c in root):
            return None  # the JVM refuses it / Spark splits java options on spaces
        java_home = os.path.dirname(os.path.dirname(os.path.realpath(java)))
        key = archive_key(java_home, jars, conf)
    except OSError:
        return None
    return Target(os.path.join(root, f"{key}.jsa"), conf, spark_home)


def launch_command(target: Target) -> tuple[str, str]:
    """The java executable and classpath Spark's launcher gives a driver
    started with ``target``'s conf directory."""
    env = {**os.environ, "SPARK_CONF_DIR": target.conf_dir, "SPARK_PRINT_LAUNCH_COMMAND": "1"}
    spark_class = os.path.join(target.spark_home, "bin", "spark-class")
    out = subprocess.run(
        [spark_class, "org.apache.spark.deploy.SparkSubmit", "--version"],
        env=env,
        stdin=subprocess.DEVNULL,
        capture_output=True,
        text=True,
    )
    for line in out.stderr.splitlines():
        if line.startswith("Spark Command: "):
            cmd = line.split()[2:]
            return cmd[0], cmd[cmd.index("-cp") + 1]
    raise RuntimeError(f"{spark_class} printed no launch command:\n{out.stderr}")


def java_options(target: Target) -> str:
    return f"-XX:SharedArchiveFile={target.archive} {LOG_OPTIONS}"


@contextlib.contextmanager
def spark_conf_dir(path: str):
    """Set ``SPARK_CONF_DIR`` for the ``with`` block, then restore it."""
    old = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = path
    try:
        yield
    finally:
        if old is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = old


def _lock_path(target: Target) -> str:
    return os.path.join(os.path.dirname(target.archive), "build.lock")


def _failed_path(target: Target) -> str:
    return target.archive + ".failed"


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # alive, owned by another user
        pass
    return True


def _lock_held(path: str) -> bool:
    """True while the builder that wrote ``path`` is alive."""
    try:
        with open(path) as f:
            text = f.read().strip()
        age = time.time() - os.stat(path).st_mtime
    except FileNotFoundError:
        return False
    if text.isdigit():
        return _pid_alive(int(text))
    return age < _UNREAD_LOCK_S


def take_lock(path: str) -> bool:
    """Create ``path`` with ``O_EXCL`` and write this pid into it.  A lock
    whose builder is dead is stale: it is removed and taken."""
    for _ in range(2):
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
        except FileExistsError:
            if _lock_held(path):
                return False
            with contextlib.suppress(FileNotFoundError):
                os.remove(path)
            continue
        with os.fdopen(fd, "w") as f:
            f.write(str(os.getpid()))
        return True
    return False


def start_build(target: Target) -> None:
    """Start one detached, niced builder for ``target``'s archive, unless
    a live builder holds the lock or a build for this key already failed.
    Its output goes to ``build.log`` in the cache directory."""
    root = os.path.dirname(target.archive)
    if os.path.exists(_failed_path(target)) or _lock_held(_lock_path(target)):
        return
    try:
        with open(os.path.join(root, "build.log"), "wb") as log:
            # Returns once the script has forked the builder off (__main__).
            subprocess.run(
                [sys.executable, os.path.abspath(__file__), *target],
                stdin=subprocess.DEVNULL,
                stdout=log,
                stderr=subprocess.STDOUT,
                cwd=root,
                start_new_session=True,
            )
    except OSError as e:
        print(f"[cds] could not start the archive builder: {e}", file=sys.stderr)


def build(target: Target) -> bool:
    """Dump ``target``'s archive to a temp file, check that the JVM maps
    it with ``-Xshare:on``, and only then rename it into place and delete
    every other key's files.  A failed dump or check leaves no archive
    and a ``<key>.jsa.failed`` marker, so later sessions do not retry the
    same key.  Returns whether the archive was built."""
    root = os.path.dirname(target.archive)
    lock = _lock_path(target)
    if not take_lock(lock):
        print("another builder holds the lock", flush=True)
        return False
    tmp = f"{target.archive}.{os.getpid()}.tmp"
    try:
        t0 = time.time()
        java, classpath = launch_command(target)
        dump = [java, "-Xshare:dump", f"-XX:SharedClassListFile={CLASSLIST}"]
        dump += [f"-XX:SharedArchiveFile={tmp}", "-cp", classpath]
        check = [java, "-Xshare:on", f"-XX:SharedArchiveFile={tmp}", "-cp", classpath, "-version"]
        for cmd in (dump, check):
            print("$ " + " ".join(cmd), flush=True)
            code = subprocess.run(cmd, stdin=subprocess.DEVNULL).returncode
            if code != 0:
                print(f"failed: exit {code}", flush=True)
                with open(_failed_path(target), "w") as f:
                    f.write(" ".join(cmd) + "\n")
                return False
        os.replace(tmp, target.archive)
        for path in glob.glob(os.path.join(root, "*.jsa*")):
            if path != target.archive:
                os.remove(path)
        usage = resource.getrusage(resource.RUSAGE_CHILDREN)
        with open(CLASSLIST) as f:
            classes = sum(1 for _ in f)
        print(
            f"built {target.archive}: {os.path.getsize(target.archive)} bytes from {classes} "
            f"class-list lines in {time.time() - t0:.1f} s wall, "
            f"{usage.ru_utime + usage.ru_stime:.1f} s CPU",
            flush=True,
        )
        return True
    finally:
        with contextlib.suppress(FileNotFoundError):
            os.remove(tmp)
        os.remove(lock)


if __name__ == "__main__":
    # The session waits only for this parent; the builder, reparented to
    # init, leaves no child process behind in the session.
    if os.fork():
        os._exit(0)
    os.nice(10)
    sys.exit(0 if build(Target(*sys.argv[1:])) else 1)
