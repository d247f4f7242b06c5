"""Extraction-engine benchmark: full-output throughput, measured from outside.

Usage (from the repository root)::

    python3 perfbench/run.py --workload extract_mixed --seed 1 --seconds 10 --trace 0

Workloads (each in a fresh process, on a seeded synthetic corpus, at
local[N] with N the usable cores):

- ``extract_mixed``: all 17 profiles plus 10% noise through ``extract()``.
- ``extract_web``: only the ``webpage`` and ``webjt`` profiles plus noise,
  still through ``extract()`` with all 17 profiles: the layout and
  state-machine UDFs and the CSV render see no rows.

Timed reps materialize every output column (never ``count()``).

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` isolates each
layer (all-column materializations over cached layer inputs, plus one traced
crash-and-resume ``job.run_job`` cycle over the same corpus) and prints the
per-layer metrics. Outputs are checked per url against ``tests/oracle.py``
outside the timed window. Everything the run writes stays under
``.bench_build/perfbench`` in the checkout. The last stdout line is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``; the line before
it is a report with quartiles, sample counts and the host regime.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG_DIR = os.path.join(ROOT, "pdf_table_extractor_spark")
WORK = os.path.join(ROOT, ".bench_build", "perfbench")


def _prepare_environment() -> None:
    """Point every scratch write (JVM, Spark, Python workers) at WORK.
    Must run before the JVM starts: its children inherit the environment."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # Every JVM (spark-submit's launcher too): temp files under WORK and no
    # hsperfdata file in the system temp directory.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # The engine's own defaults (codec, split size; the driver heap is fixed
    # in workloads.start_session), whatever the caller's environment sets.
    for knob in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[knob]
    os.environ["GIT_CEILING_DIRECTORIES"] = os.path.dirname(ROOT)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, help="corpus size override (smoke tests)")
    args = ap.parse_args(argv)
    if not os.path.isdir(PKG_DIR) or not os.path.isfile(os.path.join(ROOT, "tests", "oracle.py")):
        print(f"perfbench: no engine next to {HERE} (need pdf_table_extractor_spark/ and tests/oracle.py)", file=sys.stderr)
        return 2
    _prepare_environment()
    sys.path.insert(0, ROOT)
    import workloads  # noqa: E402 — imports pyspark and the engine

    import_s = time.perf_counter() - T_START
    cfg = dict(WORKLOADS[args.workload], name=args.workload)
    if args.docs:
        cfg["n_docs"] = args.docs
    result = workloads.run(cfg, args.seed, args.seconds, bool(args.trace), import_s, WORK)
    print(json.dumps(result["report"], default=str))
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0


# Both workloads run extract() with all 17 profiles; they differ in the
# corpus mix. "job" is the crash-and-resume `run_job` cycle whose layers the
# traced run measures over the same corpus; its poison rows are what
# `validate_pages` must quarantine (extract() passes them through as noise).
WORKLOADS = {
    "extract_mixed": {
        "profiles": None,  # all 17
        "n_docs": 6000,
        "noise_frac": 0.1,
        "n_poison": 3,
        "job": {"n_buckets": 2, "fail_after_bucket": 1},
    },
    "extract_web": {
        "profiles": ["webpage", "webjt"],
        "n_docs": 8000,
        "noise_frac": 0.1,
        "n_poison": 3,
        "job": {"n_buckets": 2, "fail_after_bucket": 1},
    },
}


if __name__ == "__main__":
    sys.exit(main())
