"""Seeded benchmark inputs and their expected outputs.

Every input is a function of (workload, seed, size): the corpus comes from
``synth.make_doc`` (seeded per document), the poison rows from a
``random.Random`` seeded with the same triple. Expected outputs come from the
pure-pandas oracle in ``tests/oracle.py``. Documents and expectations are
computed once per triple in a small process pool and cached beside each
other (parquet and JSON), so neither generation nor the oracle ever runs
inside a timed region.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing as mp
import os
import random

import pandas as pd

from pdf_table_extractor_spark import markup, synth
from pdf_table_extractor_spark.operators.quarantine import MAX_TEXT_BYTES
from tests import oracle

# name -> (doc_plan profiles (None = all 17), noise_frac, n_docs)
WORKLOADS = {
    # The golden gate's mix: all 17 profiles round-robin plus 10% noise.
    "statements_mix": (None, 0.1, 4000),
    # Common-Crawl-shaped: web main-content pages and a large noise share,
    # no statement documents; the 15 statement branches run empty.
    "crawl_main_content": (["webpage", "webjt"], 0.5, 6000),
}

GEN_PROCS = 4


def _source_digest() -> str:
    """Inputs and expectations change when the generator, the oracle or
    the markup module both of them import do."""
    h = hashlib.md5()
    for mod in (synth, oracle, markup):
        with open(mod.__file__, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:10]


def profile_of_url(url: str) -> str:
    return url.split("/")[3]


def _make(job: tuple[str, int, int]) -> tuple[dict, str, str | None]:
    """One document, its expected profile and the md5 of the oracle's csv
    (None if the oracle extracts nothing)."""
    row = synth.make_doc(*job)
    profile = profile_of_url(row["url"])
    if profile not in oracle.ORACLES:  # noise passthrough
        return row, "", None
    got = oracle.golden(profile, row["text"], bytes(row["html"]))
    return row, profile, (hashlib.md5(got).hexdigest() if got is not None else None)


def write_pages(pdf: pd.DataFrame, path: str) -> None:
    # Spark 4 rejects nanosecond parquet timestamps; pandas writes them by default.
    pdf.to_parquet(path, coerce_timestamps="us", allow_truncated_timestamps=True)


def build(work: str, workload: str, seed: int) -> dict:
    """Generate (or reuse) the corpus for (workload, seed); returns
    {"pages": parquet path, "n_docs": int, "expected": {url: [profile, md5 or None]}}."""
    profiles, noise_frac, n_docs = WORKLOADS[workload]
    root = os.path.join(work, "corpus", f"{workload}-s{seed}-n{n_docs}-{_source_digest()}")
    pages = os.path.join(root, "pages.parquet")
    exp_path = os.path.join(root, "expected.json")
    if not os.path.exists(exp_path):
        os.makedirs(root, exist_ok=True)
        jobs = [(p, i, seed) for p, i in synth.doc_plan(n_docs, profiles, noise_frac)]
        # fork is safe here: this runs before the JVM or any thread starts
        with mp.get_context("fork").Pool(GEN_PROCS) as pool:
            made = pool.map(_make, jobs, chunksize=64)
        pdf = pd.DataFrame([row for row, _p, _d in made])
        write_pages(pdf, pages)
        expected = {row["url"]: [p, d] for row, p, d in made}
        tmp = exp_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(expected, fh)
        os.replace(tmp, exp_path)
    with open(exp_path) as fh:
        expected = json.load(fh)
    return {"pages": pages, "n_docs": len(expected), "expected": expected}


# -- poison rows (quarantine layer) -----------------------------------------

STRUCTURAL = ("null_url", "no_payload", "text_too_large")


def poison_rows(workload: str, seed: int) -> tuple[pd.DataFrame, dict[str, int], int]:
    """A few rows of each class ``validate_pages`` quarantines, plus
    layout documents with undecodable markup that ``guard_doc`` degrades.
    Returns (rows, structural count per reason, undecodable count)."""
    rng = random.Random(f"poison:{workload}:{seed}")
    ts = synth.EPOCH.replace(tzinfo=None)
    rows, counts = [], {}
    for reason in STRUCTURAL:
        counts[reason] = rng.randint(1, 3)
        for k in range(counts[reason]):
            url = f"https://poison.example/{reason}/{seed:06d}{k:02d}"
            if reason == "null_url":
                rows.append(dict(url=None, text="x", html=b"x"))
            elif reason == "no_payload":
                rows.append(dict(url=url, text=None, html=None))
            else:
                # one byte over the Arrow-safety cap
                rows.append(dict(url=url, text="a" * (MAX_TEXT_BYTES + 1), html=None))
    n_bad = rng.randint(1, 3)
    for k in range(n_bad):
        # a banestes url routes the row into the layout parser (word_pages)
        rows.append(dict(
            url=f"https://poison.example/banestes/{900000 + k:06d}",
            text="x",
            html=b"P 1 595 842\nW 50 60 40 50 \xff\xfe\xfa\n",
        ))
    pdf = pd.DataFrame(rows)
    pdf["warc_ts"] = ts
    pdf["lang"] = "pt"
    return pdf[["url", "warc_ts", "html", "text", "lang"]], counts, n_bad
