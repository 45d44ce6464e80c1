"""Output checks: extracted table vs the oracle, and the two timing traps."""

from __future__ import annotations

import hashlib
from collections import Counter

import pyarrow.parquet as pq


def check_output(path: str, expected: dict) -> tuple[int, list[str]]:
    """Failed-document count and a few example reasons for one extract
    output written as parquet. A document fails if its url is missing or
    duplicated, if a noise page does not pass through with profile '' and
    a NULL csv, or if its csv bytes differ from the oracle's (an oracle
    None accepts a NULL csv or zero rows, as the golden gate does). Urls
    that were never input count as failures too."""
    t = pq.read_table(path, columns=["url", "profile", "n_rows", "csv"]).to_pydict()
    seen = Counter(t["url"])
    got = {u: (p, n, c) for u, p, n, c in zip(t["url"], t["profile"], t["n_rows"], t["csv"])}
    bad: list[str] = []
    for url, (profile, digest) in expected.items():
        if seen[url] != 1:
            bad.append(f"{url}: seen {seen[url]} times")
            continue
        p, n, csv = got[url]
        if p != profile:
            bad.append(f"{url}: profile {p!r} != {profile!r}")
        elif profile == "":
            if csv is not None or n:
                bad.append(f"{url}: noise page was extracted")
        elif digest is None:
            if csv is not None and n:
                bad.append(f"{url}: oracle extracts nothing, engine {n} rows")
        elif csv is None or hashlib.md5(csv).hexdigest() != digest:
            bad.append(f"{url}: csv bytes differ from the oracle")
    bad += [f"{u}: not an input url" for u in seen if u not in expected]
    return len(bad), bad[:5]


def stage_signature(stages: dict) -> tuple[int, int]:
    """(completed stages, input records) of one action's job group. A
    repetition that reused an earlier action's shuffle output completes
    fewer stages; one that skipped a scan reads fewer input records."""
    done = stages["completed"].values()
    return len(stages["completed"]), sum(s["inputRecords"] for s in done)
