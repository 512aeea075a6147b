"""End-to-end benchmark of the xml_to_es_spark engine.

    python3 perfbench/run.py --workload search_mixed --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. One client process drives the package
through its public functions only (``get_spark``, ``extract_fields``,
``IndexBuilder``, ``QueryEngine``, ``es_search``, ``es_msearch``) in a
closed loop on a pinned ``local[2]`` session, for ``--seconds`` of timed
requests, then checks every answer against ``pyref``. ``--trace 1``
runs the same loop with per-layer figures read from outside the
program (see README.md). The last line of standard output is one JSON
object: correct, attempted, failed, metrics.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("search_mixed", "msearch_bulk")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _confine(work: Path) -> None:
    """Keep every file the run writes (Spark scratch, the shipped
    package zip, JVM temp files) inside the checkout."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # the JVM spark-submit starts first to build the driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # the settings the package reads from the environment, pinned
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    # session warm-start primes plan shapes the workloads never run
    # (positional, fielded, phrase, multi_match) and costs ~22 s per
    # process; the warm-up requests before the timed region prime the
    # shapes they do run
    os.environ["SPARK_GRAFT_WARM_START"] = "0"


def _import_package():
    sys.path.insert(1, str(ROOT))  # after perfbench/ itself
    try:
        import xml_to_es_spark
    except ImportError as ex:
        sys.exit(f"perfbench: cannot import xml_to_es_spark from {ROOT}: {ex}")
    if Path(xml_to_es_spark.__file__).resolve().parent.parent != ROOT:
        sys.exit(f"perfbench: xml_to_es_spark is not the one under {ROOT}")


def main(argv=None) -> int:
    args = parse_args(argv)
    work = ROOT / ".perfbench_work" / str(os.getpid())
    _import_package()
    shutil.rmtree(work, ignore_errors=True)
    _confine(work)
    try:
        import drive

        bench = json.loads((ROOT / "BENCHMARK.json").read_text())
        result, info = drive.Run(args, bench, work, T_START).run()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("perfbench-info " + json.dumps(info, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
