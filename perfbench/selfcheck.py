"""Self-check of the benchmark itself.

    python3 perfbench/selfcheck.py

1. Runs every workload once untraced and once traced, and checks that the
   last line is the result object with every metric that BENCHMARK.json
   names for that mode, each with its declared unit, and a correct verdict.
2. Runs a short traced analytics session in which two queries are replaced
   by stand-ins (the registry itself is not touched): one returns a wrong
   result, one raises. Both must be counted as failures, in ``failed`` and
   in ``failed_ratio``, without aborting the run.

Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def check(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selfcheck FAILED: {what}")
    print(f"ok: {what}")


def check_printed_metrics(spec: dict) -> None:
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            cmd = spec["command"] + [
                "--workload", w["name"], "--seed", "1", "--seconds", "1",
                "--trace", str(trace),
            ]
            proc = subprocess.run(
                cmd, cwd=ROOT, capture_output=True, text=True, timeout=600
            )
            check(proc.returncode == 0, f"{w['name']} trace={trace} exits 0")
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            check(
                set(res) == {"correct", "attempted", "failed", "metrics"},
                f"{w['name']} trace={trace} result keys",
            )
            check(res["correct"] and res["failed"] == 0, f"{w['name']} trace={trace} correct")
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            check(got == want, f"{w['name']} trace={trace} prints every {key} metric with its unit")


def check_wrong_result_counted() -> None:
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]
    import run
    from mapreducer_pi_cs4433_spark.queries.catalog import ORACLE
    from pyspark.sql import functions as F

    os.makedirs(os.path.join(run.OUT, "runs"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="selfcheck-", dir=os.path.join(run.OUT, "runs"))
    run.deploy_env(run_dir)
    sess = run.make_bench("analytics", 1, run_dir, traced=True)
    try:
        real = [n for n in sess.names if n in ORACLE]
        wrong, raising, kept = real[:3]
        fn = sess.queries[wrong]

        def wrong_result(spark, sf_dir):  # one column too many
            return fn(spark, sf_dir).withColumn("selfcheck_extra", F.lit(1))

        def raises(spark, sf_dir):
            raise RuntimeError("stand-in failure")

        sess.queries = {**sess.queries, wrong: wrong_result, raising: raises}
        sess.names = [wrong, raising, kept]
        out = sess.run(seconds=0)
    finally:
        sess.close()
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
    res, m = out["result"], out["result"]["metrics"]
    # the checked cold pass, the warm-up passes, then the timed ones
    passes = 1 + run.WARMUP_PASSES + out["report"]["timed_passes"]
    check(not res["correct"], "a wrong result makes the run incorrect")
    check(m["oracle.mismatch"]["value"] == 1, "the wrong result counts as oracle.mismatch")
    check(m["queries.failed"]["value"] == passes, "the raising stand-in counts in queries.failed")
    check(res["failed"] == 1 + passes, "failed counts the mismatch and every raise")
    check(res["attempted"] == 3 * passes, "attempted counts every query of every pass")
    check(
        abs(m["failed_ratio"]["value"] - (1 + passes) / res["attempted"]) < 1e-12,
        "failed_ratio = failed / attempted",
    )


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    check_printed_metrics(spec)
    check_wrong_result_counted()
    print("selfcheck passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
