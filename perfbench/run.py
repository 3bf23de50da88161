"""KG-construction benchmark: bulk builds, and queries served beside folds.

Run from the repository root:

    python3 perfbench/run.py --workload bulk_longdoc --seed 1 --seconds 20 --trace 0

Workloads (see BENCHMARK.json for why each exists):

* ``bulk_longdoc`` — long multi-chunk pages over a ~60-entity catalog;
  extraction does most of the work, dedup stays on its driver pairwise path
  and image linking on its broadcast path.
* ``serve_fold`` — a stored graph seeded from a vocabulary-dense generator;
  one closed-loop client runs rounds of ``search_eris`` queries, each round
  followed by a fold of new pages into the stored graph.

Both workloads measure every end-to-end metric: ``bulk_longdoc`` serves
queries and a fold against the graph it built, and ``serve_fold`` ends with
a timed one-shot build over every page folded so far, which is also the
graph the folded one must equal.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs each layer's
public functions in the program's order under spans (perfbench/spans.py)
and prints the per-layer metrics; its report line carries the spans.
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. Earlier lines report the
input properties the program's strategy switches depend on.

Everything the run writes goes under a temporary directory inside the
repository root, removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [ROOT, HERE]

WORKLOADS = ("bulk_longdoc", "serve_fold")


def hermetic_env(tmp: str, cores: int) -> dict:
    """Environment and Spark conf that keep every file under ``tmp``."""
    for sub in ("local", "jtmp", "ptmp", "wh"):
        os.makedirs(os.path.join(tmp, sub), exist_ok=True)
    # python workers import the package from the checkout, wherever the
    # benchmark was started from
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["TMPDIR"] = os.path.join(tmp, "ptmp")
    tempfile.tempdir = os.path.join(tmp, "ptmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # every JVM spark-submit starts, its launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(tmp, 'jtmp')} -XX:-UsePerfData")
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    # an eighth of the machine, between 1 and 2 GiB
    heap_gb = max(1, min(2, total_kb // (8 * 2**20)))
    return {
        "spark.driver.memory": f"{heap_gb}g",
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.ui.showConsoleProgress": "false",
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {WORKLOADS}", file=sys.stderr)
        return 2
    try:
        import mmkg_rag_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"cannot import the program under {ROOT}: {e}", file=sys.stderr)
        return 2

    from measure import log
    from workloads import run_workload

    cores = os.cpu_count() or 1
    tmp = tempfile.mkdtemp(prefix=".perfbench-tmp-", dir=ROOT)
    result = None
    try:
        conf = hermetic_env(tmp, cores)
        result = run_workload(args, tmp, cores, conf)
    except Exception:
        traceback.print_exc()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if result is None:
        return 1
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
