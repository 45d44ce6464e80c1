"""Repository benchmark: full-output ``extract()`` on seeded corpora.

    python3 perfbench/run.py --workload statements_mix --seed 1 --seconds 10 --trace 0

Run from the repository root. With ``--trace 0`` it prints the end-to-end
metrics, with ``--trace 1`` the per-layer metrics of a separate traced run
(see perfbench/README.md). The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. All state lives in
``.perfbench_work/`` under the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
CORES = 4
_made_outside: list[str] = []  # files the engine wrote outside ROOT for this run


def _isolate_env() -> None:
    """Keep every file Spark, the JVM and Python create inside WORK."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYTHONPATH"] = ROOT
    # every JVM, the spark-submit launcher included: no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def start_session():
    """build_spark + ensure_shipped on local[CORES]; the session part of setup."""
    from pdf_table_extractor_spark import ship
    from pdf_table_extractor_spark.session import build_spark

    spark = build_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    ship.ensure_shipped(spark)
    # ensure_shipped caches the engine zip in /tmp. If the call above wrote
    # it, stop_session removes it: a run leaves no file outside ROOT.
    zip_path = ship.package_zip()
    if os.path.getmtime(zip_path) >= t0 - 1:
        _made_outside.append(zip_path)
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait for every child process;
    then remove the files the engine wrote outside ROOT for this run."""
    from pyspark import SparkContext

    from probes import descendants

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
            os.waitpid(pid, 0)
        except OSError:
            pass
    while _made_outside:
        try:
            os.remove(_made_outside.pop())
        except OSError:
            pass


def full_extract(spark, pages_path: str, out: str):
    """One full-output extract action on a freshly planned DataFrame:
    a parquet write consumes every output column. Returns (wall time, df)."""
    from pdf_table_extractor_spark.plans.extract import extract

    t0 = time.perf_counter()
    df = extract(spark.read.parquet(pages_path))
    df.write.mode("overwrite").parquet(out)
    return time.perf_counter() - t0, df


def reference_plans(df) -> dict:
    """Python-eval nodes in the physical plans of two actions on the extract
    output ``df``: one that consumes the csv bytes and a ``count()``. The
    counts depend only on the code, so they are cached per package digest."""
    from pyspark.sql import functions as F

    from pdf_table_extractor_spark import ship

    import probes

    path = os.path.join(WORK, f"plan-nodes-{ship._content_digest()}.json")
    if not os.path.exists(path):
        ref = {
            "csv_plan": probes.planned_python_nodes(df.agg(F.sum(F.octet_length("csv")))),
            "count_plan": probes.planned_python_nodes(df.groupBy().count()),
        }
        with open(path, "w") as fh:
            json.dump(ref, fh)
    with open(path) as fh:
        return json.load(fh)


def timed_run(args, corpus: dict) -> dict:
    """Set-up (the session), then full-output extract actions for
    ``--seconds``, one at a time from this one driver thread. The first
    action is the session's first, so it runs cold."""
    import probes
    from check import check_output, stage_signature

    outdir = os.path.join(WORK, "out", f"{args.workload}-s{args.seed}")
    t0 = time.perf_counter()
    spark = start_session()
    setup_s = time.perf_counter() - t0
    sc = spark.sparkContext

    reps, outs = [], []
    regime_before = probes.host_regime()
    kinds_before = probes.cpu_breakdown(os.getpid())
    cpu_before = probes.tree_cpu_s(os.getpid())
    with probes.RssSampler() as rss:
        deadline = time.perf_counter() + args.seconds
        while True:
            out = os.path.join(outdir, f"rep{len(reps)}")
            sc.setJobGroup(f"rep{len(reps)}", "timed", False)
            wall, df = full_extract(spark, corpus["pages"], out)
            reps.append(wall)
            outs.append(out)
            if time.perf_counter() >= deadline:
                break
    cpu_s = probes.tree_cpu_s(os.getpid()) - cpu_before
    kinds_after = probes.cpu_breakdown(os.getpid())
    regime_after = probes.host_regime()
    ref = reference_plans(df)

    problems = []
    # trap 1: every timed plan must run every Python UDF a csv consumer needs
    # (the session runs no SQL execution but the timed writes)
    plans = [probes.python_nodes(probes.last_sql_plan(spark, e))
             for e in probes.sql_execution_ids(spark)]
    if len(plans) != len(reps) or min(plans) < ref["csv_plan"]:
        problems.append(f"timed plans run {plans} Python nodes, csv needs {ref['csv_plan']}")
    # trap 2: no repetition may reuse or skip an earlier action's stages;
    # every scan of every repetition reads the whole corpus
    n = corpus["n_docs"]
    sigs = [stage_signature(probes.group_stages(spark, f"rep{i}")) for i in range(len(reps))]
    for i, sig in enumerate(sigs):
        if sig != sigs[0] or sig[1] == 0 or sig[1] % n:
            problems.append(f"rep{i} ran (stages, input records) {sig}, rep0 {sigs[0]}, {n} docs")
    t_stop = time.perf_counter()
    stop_session(spark)
    stop_s = time.perf_counter() - t_stop

    failed, examples = 0, []
    for out in outs:
        n_bad, ex = check_output(out, corpus["expected"])
        failed += n_bad
        examples += ex
    attempted = n * len(outs)
    return {
        "correct": failed == 0 and not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            "setup_s": {"value": setup_s, "unit": "s"},
            "docs_per_cpu_s": {"value": n * len(reps) / cpu_s, "unit": "docs/cpu-s"},
        },
        "record": {
            "reps_s": reps,
            "docs_per_s": statistics.median(n / r for r in reps),
            "peak_rss_mb": rss.peak / 2**20,
            "rss_at_peak_mb": {k: v / 2**20 for k, v in rss.at_peak.items()},
            "stop_s": stop_s,
            "cpu_s": cpu_s,
            "cpu_kinds": {k: kinds_after[k] - kinds_before[k] for k in kinds_after},
            "python_nodes": {"timed": plans, **ref},
            "stage_signatures": sigs,
            "failed_frac": failed / attempted,
            "problems": problems,
            "examples": examples[:10],
            "host_before": regime_before,
            "host_after": regime_after,
            "steal_frac": probes.steal_frac(regime_before, regime_after),
        },
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:0] = [here, ROOT]
    if not os.path.isdir(os.path.join(ROOT, "pdf_table_extractor_spark")):
        print("perfbench: engine sources not found next to perfbench/", file=sys.stderr)
        return 2
    _isolate_env()
    import corpus as corpus_mod

    if args.workload not in corpus_mod.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    t0 = time.perf_counter()
    corpus = corpus_mod.build(WORK, args.workload, args.seed)
    corpus_s = time.perf_counter() - t0
    if args.trace:
        import layers

        result = layers.traced_run(args, corpus)
    else:
        result = timed_run(args, corpus)

    record = result.pop("record")
    record["corpus_s"] = corpus_s
    record["wall_s"] = time.perf_counter() - t0
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    rec_path = os.path.join(WORK, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}.json")
    with open(rec_path, "w") as fh:
        json.dump({**result, **record, "args": vars(args)}, fh, indent=1, default=str)
    print(f"perfbench: run record {rec_path}", file=sys.stderr)
    if record.get("problems") or record.get("examples"):
        print(f"perfbench: problems {record.get('problems')} {record.get('examples')}", file=sys.stderr)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
