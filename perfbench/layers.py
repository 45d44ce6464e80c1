"""The traced run: per-layer metrics from isolated calls into each module.

Stages of the full 17-branch plan cannot be split by layer (the text
branches fuse with the merge), so each layer is timed around its own call
on the workload's corpus, under its own span and Spark job group, and its
stage metrics are read back from the status store. Every Spark call here
consumes all of its output columns (a ``noop`` write or a parquet write).
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

from functools import reduce

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

import probes
from check import check_output
from corpus import poison_rows, write_pages
from run import CORES, WORK, full_extract, start_session, stop_session

# Metrics of the crash-resume bucketed job, which this benchmark does not run.
UNMEASURED = {
    name: "the crash-resume bucketed job is not run: one crash + resume leg pair "
          "costs about two full extract actions (~40 s on local[4]), which does "
          "not fit the per-run time budget; see perfbench/README.md"
    for name in ("job_wall_s", "resume_s", "job.bucket_s_p50", "job.bucket_s_max",
                 "job.spark_jobs_per_bucket", "job.resume_redone_docs")
}


class _NoProfiles(dict):
    """An empty profile map that is truthy: ``extract`` treats a falsy
    ``profiles`` as "all profiles", so a plain ``{}`` cannot isolate the
    scan + salt + sentinel + merge floor."""

    def __bool__(self) -> bool:
        return True


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f))
        for r, _d, files in os.walk(path) for f in files if not f.startswith((".", "_"))
    )


def traced_run(args, corpus: dict) -> dict:
    from pdf_table_extractor_spark.job import stage_pages
    from pdf_table_extractor_spark.operators import blocks, boilerplate, justext, quarantine
    from pdf_table_extractor_spark.operators import statemachines, tables
    from pdf_table_extractor_spark.operators.serialize import serialize
    from pdf_table_extractor_spark.plans.extract import extract, profile_of
    from pdf_table_extractor_spark.plans.profiles import PROFILES, WEBJT_STOPLIST
    from pdf_table_extractor_spark.sources.catalog import LocalCatalog
    from pdf_table_extractor_spark.synth import ITAU_GEOM

    import pandas as pd

    out_root = os.path.join(WORK, "trace", f"{args.workload}-s{args.seed}")
    shutil.rmtree(out_root, ignore_errors=True)
    os.makedirs(out_root)
    n = corpus["n_docs"]
    m: dict[str, tuple[float, str]] = {}

    # job input = corpus + seeded poison rows (quarantine + stage_pages)
    poison, n_structural, n_undecodable = poison_rows(args.workload, args.seed)
    job_input = os.path.join(out_root, "job_input.parquet")
    write_pages(pd.concat([pd.read_parquet(corpus["pages"]), poison], ignore_index=True), job_input)

    rss = probes.RssSampler().start()
    t0 = time.perf_counter()
    spark = start_session()
    m["session.start_s"] = (time.perf_counter() - t0, "s")
    tr = probes.Tracer(spark, run_id=f"{args.workload}-s{args.seed}-{int(time.time())}")
    pages = lambda: spark.read.parquet(corpus["pages"])  # noqa: E731 — fresh plan per call
    by_profile = lambda *ps: pages().filter(profile_of(F.col("url")).isin(*ps))  # noqa: E731

    # The traced full action is the session's first action: it warms the
    # JVM for the isolated calls below, and its counts, bytes and stages
    # (not its wall time) are what the per-layer metrics take from it.
    out = os.path.join(out_root, "extract")
    with tr.span("plans.extract.extract", docs=n):
        full_extract(spark, corpus["pages"], out)
    plan = tr.plan()
    st = tr.stages(tr.spans[-1])
    m["session.gc_ms"] = (st["jvmGcTime"], "ms")
    m["session.spill_bytes"] = (st["memoryBytesSpilled"] + st["diskBytesSpilled"], "bytes")
    m["session.tasks_per_action"] = (st["numTasks"], "count")
    m["plans.extract.stages_per_action"] = (st["stages"], "count")
    m["plans.extract.python_nodes"] = (probes.python_nodes(plan), "count")
    m.update(_exchange_metrics(plan))

    with tr.span("plans.extract.floor") as sp:
        _noop(extract(pages(), _NoProfiles()))
    floor_s = sp["end"] - sp["start"]
    m["plans.extract.floor_s"] = (floor_s, "s")

    for name, prof in PROFILES.items():
        with tr.span(f"plans.profiles.{name}") as sp:
            _noop(extract(pages(), {name: prof}))
        m[f"plans.profiles.{name}.marginal_s"] = (sp["end"] - sp["start"] - floor_s, "s")

    # serialize(build(sub)) minus build(sub), for all 17 profiles at once:
    # one action unions every branch's records (hashed, so every record
    # column is computed), one unions every branch's serialized output.
    # Two actions instead of 34 keep the traced run inside its time budget.
    recs_obs = {name: Observation(f"records_{name}") for name in PROFILES}
    builds, serialized = [], []
    for name, prof in PROFILES.items():
        recs = prof.build(by_profile(name))
        builds.append(recs.observe(recs_obs[name], F.count(F.lit(1)).alias("n"))
                      .select("url", F.xxhash64(*recs.columns).alias("h")))
        serialized.append(serialize(prof.build(by_profile(name)), name, prof.sink))
    with tr.span("operators.serialize.build") as b:
        _noop(reduce(DataFrame.unionByName, builds))
    csv_obs = Observation("csv_bytes")
    with tr.span("operators.serialize") as sp:
        _noop(reduce(DataFrame.unionByName, serialized).observe(
            csv_obs, F.coalesce(F.sum(F.octet_length("csv")), F.lit(0)).alias("b")))
    for name in PROFILES:
        m[f"plans.profiles.{name}.records"] = (recs_obs[name].get["n"], "count")
    m["operators.serialize.render_s"] = ((sp["end"] - sp["start"]) - (b["end"] - b["start"]), "s")
    m["operators.serialize.py_gap_ms"] = (tr.stages(sp)["py_gap_ms"] - tr.stages(b)["py_gap_ms"], "ms")
    m["operators.serialize.bytes_per_doc"] = (csv_obs.get["b"] / n, "bytes")

    def layer(metric: str, df, gap: str | None = None) -> None:
        with tr.span(metric) as sp:
            _noop(df)
        m[metric] = (sp["end"] - sp["start"], "s")
        if gap:
            m[gap] = (m.get(gap, (0.0,))[0] + tr.stages(sp)["py_gap_ms"], "ms")

    layer("operators.blocks.word_pages_s", blocks.word_pages(by_profile("banestes")),
          "operators.blocks.py_gap_ms")
    for metric, prof, udf, col in (
        ("santander_s", "santander", statemachines.santander_records, "text"),
        ("bradesco_s", "bradesco", statemachines.bradesco_records, "text"),
        ("stone_s", "stone", statemachines.stone_rows, "html"),
    ):
        layer(f"operators.statemachines.{metric}", by_profile(prof).select("url", udf(col)),
              "operators.statemachines.py_gap_ms")
    layer("operators.tables.stream_rows_s",
          by_profile("itau").select("url", tables.stream_rows("html", ITAU_GEOM)),
          "operators.tables.py_gap_ms")
    layer("operators.boilerplate.blocks_s", boilerplate.page_blocks(by_profile("webpage")))
    layer("operators.boilerplate.classify_s", boilerplate.classify_blocks(
        boilerplate.block_features(boilerplate.page_blocks(by_profile("webpage")))))
    layer("operators.justext.classify_s", justext.revise_classification(
        justext.classify_context_free(justext.paragraph_features(
            boilerplate.page_blocks(by_profile("webjt")), stoplist=WEBJT_STOPLIST))))
    layer("sources.scan_s", pages())

    # quarantine: both outputs of validate_pages over the poisoned input
    with tr.span("operators.quarantine.validate_s") as sp:
        ok, bad = quarantine.validate_pages(spark.read.parquet(job_input))
        _noop(ok)
        reasons = [r.reason for r in bad.collect()]
    m["operators.quarantine.validate_s"] = (sp["end"] - sp["start"], "s")
    m["operators.quarantine.n_quarantined"] = (len(reasons), "count")
    quarantine_ok = sorted(reasons) == sorted(r for r, k in n_structural.items() for _ in range(k))
    acc = quarantine.parse_failures(spark.sparkContext)
    before = acc.value
    poisoned = spark.read.parquet(job_input).filter(F.col("url").startswith("https://poison.example/banestes/"))
    with tr.span("operators.quarantine.guard_doc"):
        _noop(blocks.word_pages(poisoned))
    m["operators.quarantine.n_parse_failed"] = (acc.value - before, "count")

    with tr.span("job.stage_pages_s") as sp:
        stage_pages(spark, job_input, os.path.join(out_root, "job"), n_buckets=CORES)
    m["job.stage_pages_s"] = (sp["end"] - sp["start"], "s")

    catalog = LocalCatalog(os.path.join(out_root, "catalog"))
    with tr.span("sources.commit_s") as sp:
        catalog.commit_bucket(spark.read.parquet(out), 0, {"n_pages": n})
    m["sources.commit_s"] = (sp["end"] - sp["start"], "s")
    m["sources.commit_bytes_per_doc"] = (_dir_bytes(catalog.bucket_path(0)) / n, "bytes")

    for sp in tr.spans:
        tr.stages(sp)
    span_s = statistics.fsum(sp["end"] - sp["start"] for sp in tr.spans)
    m["trace.overhead_s"] = (tr.overhead_s, "s")
    m["trace.overhead_frac"] = (tr.overhead_s / span_s, "fraction")
    rss.stop()
    m["session.peak_rss_mb"] = (rss.peak / 2**20, "MB")
    stop_session(spark)
    tr.write(os.path.join(out_root, "spans.json"))

    failed, examples = check_output(out, corpus["expected"])
    problems = [] if quarantine_ok else [f"quarantined reasons {sorted(reasons)} != seeded {n_structural}"]
    return {
        "correct": failed == 0 and not problems,
        "attempted": n + sum(n_structural.values()),
        "failed": failed + (0 if quarantine_ok else sum(n_structural.values())),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in sorted(m.items())},
        "record": {
            "spans": os.path.join(out_root, "spans.json"),
            "unmeasured": UNMEASURED,
            "poison": {"structural": n_structural, "undecodable": n_undecodable},
            "problems": problems,
            "examples": examples[:10],
            "span_seconds": span_s,
        },
    }


def _exchange_metrics(plan: dict) -> dict:
    """Salt and merge exchange traffic of the full action's executed plan.
    Salt exchanges are the url repartitions fed straight from the scan (no
    Python node below them); the merge exchange is the one nearest the
    root (the final groupBy(url))."""
    nodes = plan["nodes"]

    def below(i: int) -> set[int]:
        seen, todo = set(), [i]
        while todo:
            for c in nodes[todo.pop()]["children"]:
                if c not in seen:
                    seen.add(c)
                    todo.append(c)
        return seen

    def read_bytes(x: dict) -> float:
        return x["metrics"].get("local bytes read", 0.0) + x["metrics"].get("remote bytes read", 0.0)

    exchanges = {i: x for i, x in nodes.items() if x["name"] == "Exchange"}
    salt = [x for i, x in exchanges.items() if "REPARTITION_BY_NUM" in x["desc"]
            and not any(probes.PY_NODE.search(nodes[j]["name"]) for j in below(i))]
    parents = {c: i for i, x in nodes.items() for c in x["children"]}

    def depth(i: int) -> int:
        d = 0
        while i in parents:
            i, d = parents[i], d + 1
        return d

    merge = nodes[min(exchanges, key=depth)] if exchanges else {"metrics": {}}
    return {
        "plans.extract.salt_write_bytes": (sum(x["metrics"].get("shuffle bytes written", 0.0) for x in salt), "bytes"),
        "plans.extract.salt_read_bytes": (sum(read_bytes(x) for x in salt), "bytes"),
        "plans.extract.merge_read_bytes": (read_bytes(merge), "bytes"),
        "plans.extract.merge_records": (merge["metrics"].get("records read", 0.0), "count"),
    }
