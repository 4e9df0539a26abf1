#!/usr/bin/env python
"""Regenerate the class list the driver JVM's class-data-sharing archive
is dumped from (``projectmapreduce_spark/cds_classlist.txt``).

    python scripts/make_cds_classlist.py [--sf-dir DIR]

Starts a session through ``session.get_spark`` with the driver JVM told
to write every class it loads (``-XX:DumpLoadedClassList``), runs the
whole catalog once on ``DIR`` (default: the sf0.001 tier), lets the JVM
exit, and writes the sorted, deduplicated list into the package.  The
session is started without an archive, so the list records every class
the JVM loads.

A class that a later Spark or JDK no longer has only costs the dump a
skipped line; an edited list re-keys the archive (``cds.archive_key``),
and the next ``get_spark`` builds a new one.
"""

from __future__ import annotations

import argparse
import os
import re
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
# Python workers unpickle the connector classes by reference.
os.environ["PYTHONPATH"] = REPO + os.pathsep + os.environ.get("PYTHONPATH", "")

from projectmapreduce_spark import cds  # noqa: E402
from projectmapreduce_spark import session as sess  # noqa: E402
from projectmapreduce_spark.queries import QUERIES  # noqa: E402
from tests.conftest import SF_SMOKE  # noqa: E402

# Classes the JVM generates at run time (dynamic proxies, JFR event
# handlers): no jar holds them, and their names change from run to run.
GENERATED = re.compile(r"\$Proxy\d+$|/EventHandler\d+_\d+-\d+$")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=SF_SMOKE, help="input tier directory")
    args = ap.parse_args()

    work = tempfile.mkdtemp(prefix="cds-classlist-")
    raw = os.path.join(work, "classes.txt")
    os.environ.setdefault("SPARK_GRAFT_SCRATCH", os.path.join(work, "scratch"))
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.driver.extraJavaOptions=-XX:DumpLoadedClassList={raw} pyspark-shell"
    )
    cds.locate = lambda spark_home: None  # record the unshared start-up
    t0 = time.perf_counter()
    spark = sess.get_spark(app_name="pmr-cds-classlist")
    spark.sparkContext.setLogLevel("ERROR")
    failed = []
    for name in sorted(QUERIES):
        try:
            QUERIES[name](spark, args.sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001 - a failed query still loaded classes
            failed.append(name)
            print(f"[error] {name}: {type(e).__name__}: {e}", file=sys.stderr, flush=True)
    spark.stop()
    # The JVM exits when its stdin closes; that flushes the list.
    gateway = spark.sparkContext._gateway
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=120)

    with open(raw) as f:
        lines = {line.rstrip("\n") for line in f}
    # The JVM's own header is comment lines, which sorting would scramble.
    lines = sorted(c for c in lines if c and c[0] != "#" and not GENERATED.search(c))
    shutil.rmtree(work, ignore_errors=True)
    with open(cds.CLASSLIST, "w") as f:
        f.write("# Generated by scripts/make_cds_classlist.py: sorted, deduplicated.\n")
        f.write("".join(line + "\n" for line in lines))
    print(
        f"{len(lines)} lines to {cds.CLASSLIST} from {len(QUERIES)} queries "
        f"({len(failed)} failed) in {time.perf_counter() - t0:.0f} s"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
