"""Output checks, run outside the timed region.

Extraction: the golden text of a page is its source ``text`` cut into
lines of ten words (README "Correctness model"), computed here from the
input table, never by calling the program. Dedup: each query's rows
must equal its DuckDB oracle's rows, canonicalized as the registry's
correctness sweep does (columns by name, floats floored to 1e-6, rows
sorted).
"""

from __future__ import annotations

import hashlib
import math
from dataclasses import dataclass, field

import pyarrow as pa

WORDS_PER_LINE = 10


def golden(text: str) -> str:
    words = text.split(" ")
    return "\n".join(" ".join(words[i:i + WORDS_PER_LINE])
                     for i in range(0, len(words), WORDS_PER_LINE))


@dataclass
class ExtractionCheck:
    attempted: int = 0
    failed: int = 0
    problems: dict = field(default_factory=dict)
    parse_failures: int = 0
    elapsed_ms: list = field(default_factory=list)

    def _fail(self, kind: str) -> None:
        self.failed += 1
        self.problems[kind] = self.problems.get(kind, 0) + 1


def check_extraction(inputs: pa.Table, output: pa.Table,
                     junk_ids: set[int]) -> ExtractionCheck:
    """``inputs``: (doc_id, url, text); ``output``: the extraction table
    (url, extracted_text, lineage). A document fails when its url is not
    in the output exactly once, an ok page's text differs from the
    golden, or a planted junk page is not a typed parse_failure."""
    res = ExtractionCheck(attempted=inputs.num_rows)
    lineage = output["lineage"].combine_chunks()
    status = lineage.field("status").to_pylist()
    reason = lineage.field("reason").to_pylist()
    res.elapsed_ms = lineage.field("elapsed_ms").to_pylist()
    by_url: dict[str, int] = {}
    dup_urls = set()
    for i, u in enumerate(output["url"].to_pylist()):
        if u in by_url:
            dup_urls.add(u)
        by_url[u] = i
    texts = output["extracted_text"].to_pylist()
    res.parse_failures = sum(s == "parse_failure" for s in status)
    in_urls = set()
    for doc_id, url, text in zip(inputs["doc_id"].to_pylist(),
                                 inputs["url"].to_pylist(),
                                 inputs["text"].to_pylist()):
        in_urls.add(url)
        i = by_url.get(url)
        if i is None:
            res._fail("missing")
        elif url in dup_urls:
            res._fail("duplicated")
        elif doc_id in junk_ids:
            if status[i] != "parse_failure" or not reason[i]:
                res._fail("junk_not_typed_failure")
        elif status[i] != "ok":
            res._fail(f"status_{status[i]}")
        elif texts[i] != golden(text):
            res._fail("text_mismatch")
    extra = len(set(by_url) - in_urls)
    if extra:
        res.problems["unexpected_urls"] = extra
        res.failed += extra
    return res


def check_manifest(manifest: dict, docs: int, n_bytes: int,
                   parse_failures: int) -> list[str]:
    slices = [s for s in manifest["slices"].values() if s.get("committed")]
    got = {"docs": sum(s["docs"] for s in slices),
           "bytes_in": sum(s["bytes_in"] for s in slices),
           "parse_failures": sum(s["parse_failures"] for s in slices)}
    want = {"docs": docs, "bytes_in": n_bytes,
            "parse_failures": parse_failures}
    return [f"manifest {k}={got[k]} != input {want[k]}"
            for k in want if got[k] != want[k]]


def _canon_value(v):
    if isinstance(v, float):
        return math.floor(v * 1e6) / 1e6 if math.isfinite(v) else v
    if isinstance(v, (list, tuple)):
        return tuple(_canon_value(x) for x in v)
    return v


def canonical_digest(rows: list[tuple], cols: list[str]) -> str:
    """Order-free digest of a result: columns sorted by name, floats
    floored to 1e-6, lists as tuples, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(repr(tuple(_canon_value(r[i]) for i in order))
                   for r in rows)
    h = hashlib.sha256(repr(sorted(cols)).encode())
    for line in canon:
        h.update(line.encode())
        h.update(b"\n")
    return f"{len(rows)}:{h.hexdigest()[:24]}"


def oracle_digests(sf_dir: str, sql: dict[str, str], names: list[str],
                   threads: int) -> dict[str, str]:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {threads}")
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{sf_dir}/{t}.parquet'")
        out = {}
        for n in names:
            cur = con.execute(sql[n])
            cols = [d[0] for d in cur.description]
            out[n] = canonical_digest(cur.fetchall(), cols)
        return out
    finally:
        con.close()
