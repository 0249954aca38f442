"""Serving-path benchmark: the engine booted in-process and driven
through its public HTTP facade by one client.

    python3 perfbench/run.py --workload ingest|dashboard --seed N \\
        --seconds S --trace 0|1

``--trace 0`` reports the end-to-end metrics:

- ``setup_s``: median of three engine set-ups, each on a new store root,
  timed once the timed phase is over (provision, start the facade, then
  for ``ingest`` create the downsampling task, write one batch and run
  the task; for ``dashboard`` preload the history through the write path
  and compact)
- ``latency_p50_ms``: median latency of one operation of the timed
  phase: a 5,000-line write (``ingest``), or a refresh of all six
  dashboard panels one after another, summed from each panel's median
  over the run (``dashboard``)
- ``requests_per_s``: writes or panel queries completed per second
- ``disk_bytes_per_point``: bytes of the bucket's data directory per
  point written, before the final compaction (``ingest``) or after the
  preload's compaction (``dashboard``)
- ``peak_rss_mb``: peak resident memory of this process and its JVM

``--trace 1`` runs the same workload with every layer's entry points
wrapped and reports the per-layer metrics instead (see ``tracing.py``
and ``LAYERS.md``). The last line on standard output is one JSON object
with the keys ``correct``, ``attempted``, ``failed`` and ``metrics``.
The exit code is 1 when an output check failed and 2 when the engine
package is missing.

Everything a run writes (store roots, Spark scratch space, temp files)
lives under ``.perfbench_work/`` in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "aws_greengrass_labs_database_influxdb_spark"
WORKLOADS = ("ingest", "dashboard")


def _environment(work: Path) -> None:
    """Settings that must be in place before the JVM starts."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    # Spark's Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc: subprocess.Popen = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / PACKAGE).is_dir():
        print(f"perfbench: engine package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        _environment(work)
        sys.path[:0] = [str(ROOT), str(HERE)]
        from aws_greengrass_labs_database_influxdb_spark.session import get_spark

        import workloads

        spark = get_spark(app_name="perfbench", extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            # the whole heap from the start: no resizing while timing;
            # no perf-data file in the system temp dir
            "spark.driver.extraJavaOptions":
                f"-Xms2g -XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}",
            # keep every job of a traced run in the status store
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
        try:
            run = workloads.Run(spark, work, args.seed, args.seconds, bool(args.trace))
            result = workloads.WORKLOADS[args.workload](run)
        finally:
            _stop(spark)
        for why in run.failures:
            print(f"perfbench: check failed: {why}", file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # kept while another run uses it
            work.parent.rmdir()
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
