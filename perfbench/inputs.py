"""Seeded benchmark inputs, cached in the checkout's work area.

Extraction workloads read web pages generated from the vendored
``documents`` table (``data/<sf>/documents.parquet``, a copy of the
sf0.1 and sf0.001 test tables). The table is replicated in *blocks*:
block ``b`` holds every document with ``doc_id + BLOCK_STRIDE * b``.
``BLOCK_STRIDE`` is a multiple of 20 (the route cycle), of 160 (the
longest payload-variant cycle) and of 1000 (the host cycle), so every
block has the same route mix, payload variants and host skew as block
0; only the doc ids in the urls, timestamps and junk bytes differ. The
seed picks which blocks of a fixed pool a run uses, so generated blocks
are cached once per checkout and shared by seeds.

The dedup workload reads the documents table with every ``doc_id``
shifted by one of four multiples of 10000 (picked by the seed; ids
stay below the queries' planted-duplicate offset of 100000) and the
embeddings table unchanged: the planted duplicate sets move, their
sizes do not.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
from dataclasses import dataclass
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BENCH_DIR = Path(__file__).resolve().parent
DATA_DIR = BENCH_DIR / "data"

BLOCK_STRIDE = 100_000
BLOCK_POOL = 16
# the dedup queries plant copies at doc_id + 100000 and up, so shifted
# ids stay below it; a pool of shifts lets the oracle results be cached
DEDUP_SHIFT_STEP = 20 * 500
DEDUP_SHIFT_POOL = 4


def route_of(doc_id: int) -> str:
    """The generator's planted route for a doc id (corpus cycle of 20)."""
    m = doc_id % 20
    if m == 12:
        return "docx"
    if m < 14:
        return "html"
    if m < 19:
        return "pdf"
    return "junk"


def blocks_for_seed(seed: int, n_blocks: int) -> list[int]:
    return sorted(random.Random(seed).sample(range(BLOCK_POOL), n_blocks))


def dedup_shift_for_seed(seed: int) -> int:
    return DEDUP_SHIFT_STEP * random.Random(seed).randrange(DEDUP_SHIFT_POOL)


def _file_digest(*paths: Path) -> str:
    h = hashlib.sha256()
    for p in paths:
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def page_cache_dir(cache: Path, sf: str) -> Path:
    """Cache key: generator source + source table, so a generator change
    never serves stale pages."""
    import document_text_extraction_spark.corpus as corpus_mod
    key = _file_digest(Path(corpus_mod.__file__),
                       DATA_DIR / sf / "documents.parquet")
    return cache / f"pages-{sf}-{key}"


def _render_rows(rows: list[tuple]) -> list[dict]:
    """(doc_id, text, source, lang) rows → page rows."""
    from document_text_extraction_spark import corpus
    out = []
    for doc_id, text, source, lang in rows:
        page = corpus.make_page(doc_id, text, source, lang=lang)
        page["doc_id"] = doc_id
        out.append(page)
    return out


PAGE_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")), ("html", pa.binary()),
    ("text", pa.string()), ("lang", pa.string()),
])


def ensure_blocks(cache: Path, sf: str, blocks: list[int]) -> float:
    """Render the missing page blocks with the program's page generator
    (before any Spark session starts, so generation never warms the
    session under test); returns the seconds spent (0 when every block
    was cached)."""
    import time

    root = page_cache_dir(cache, sf)
    missing = [b for b in blocks if not (root / f"block-{b}.parquet")
               .exists()]
    if not missing:
        return 0.0
    t0 = time.perf_counter()
    docs = pq.read_table(DATA_DIR / sf / "documents.parquet",
                         columns=["doc_id", "text", "source", "lang"])
    base = list(zip(*(docs[c].to_pylist()
                      for c in ("doc_id", "text", "source", "lang"))))
    root.mkdir(parents=True, exist_ok=True)
    for b in missing:
        pages = _render_rows([(d + b * BLOCK_STRIDE, t, s, la)
                              for d, t, s, la in base])
        tbl = pa.Table.from_pylist(pages, schema=PAGE_SCHEMA)
        tmp = root / f".block-{b}.{os.getpid()}"
        pq.write_table(tbl, tmp, row_group_size=2048)
        os.replace(tmp, root / f"block-{b}.parquet")
    return time.perf_counter() - t0


def block_paths(cache: Path, sf: str, blocks: list[int]) -> list[str]:
    root = page_cache_dir(cache, sf)
    return [str(root / f"block-{b}.parquet") for b in blocks]


@dataclass
class PageStats:
    """Input identity: equal on both sides of a comparison iff the
    bytes are equal."""
    docs: int
    bytes: int
    digest: str
    routes: dict
    hot_host_share: float

    def as_dict(self) -> dict:
        return {"docs": self.docs, "bytes": self.bytes,
                "digest": self.digest, "routes": self.routes,
                "hot_host_share": round(self.hot_host_share, 4)}


def read_pages(paths: list[str], columns: list[str],
               row_filter=None) -> pa.Table:
    tables = [pq.read_table(p, columns=columns) for p in paths]
    t = pa.concat_tables(tables)
    if row_filter is not None:
        t = t.filter(row_filter(t))
    return t


def pdf_filter(t: pa.Table):
    """doc_id % 20 in 14..19: the pdf route and the planted junk."""
    ids = t["doc_id"]
    rem = pc.subtract(ids, pc.multiply(pc.divide(ids, 20), 20))
    return pc.greater_equal(rem, 14)


def page_stats(t: pa.Table) -> PageStats:
    ids = t["doc_id"].to_pylist()
    urls = t["url"].to_pylist()
    html = t["html"].to_pylist()
    order = sorted(range(len(ids)), key=ids.__getitem__)
    h = hashlib.sha256()
    routes: dict[str, int] = {}
    host_bytes: dict[str, int] = {}
    total = 0
    for i in order:
        payload = html[i] or b""
        h.update(b"%d:" % ids[i])
        h.update(hashlib.md5(payload).digest())
        r = route_of(ids[i])
        routes[r] = routes.get(r, 0) + 1
        host = urls[i].split("/")[2]
        host_bytes[host] = host_bytes.get(host, 0) + len(payload)
        total += len(payload)
    return PageStats(len(ids), total, h.hexdigest()[:16],
                     dict(sorted(routes.items())),
                     max(host_bytes.values()) / total if total else 0.0)


def write_dedup_tables(sf: str, shift: int, dest: Path) -> str:
    """The seeded documents table (ids shifted) plus the embeddings
    table, as an sf directory the registry queries can read."""
    dest.mkdir(parents=True, exist_ok=True)
    docs = pq.read_table(DATA_DIR / sf / "documents.parquet")
    shifted = docs.set_column(
        docs.schema.get_field_index("doc_id"), "doc_id",
        pc.add(docs["doc_id"], pa.scalar(shift, pa.int64())))
    pq.write_table(shifted, dest / "documents.parquet")
    shutil.copyfile(DATA_DIR / sf / "embeddings.parquet",
                    dest / "embeddings.parquet")
    return str(dest)


def dedup_stats(sf_dir: str) -> dict:
    docs = pq.read_table(Path(sf_dir) / "documents.parquet",
                         columns=["doc_id", "text"])
    h = hashlib.sha256()
    n_bytes = 0
    for i, text in zip(docs["doc_id"].to_pylist(),
                       docs["text"].to_pylist()):
        raw = text.encode()
        n_bytes += len(raw)
        h.update(b"%d:" % i)
        h.update(hashlib.md5(raw).digest())
    emb = pq.read_metadata(Path(sf_dir) / "embeddings.parquet").num_rows
    return {"docs": docs.num_rows, "bytes": n_bytes,
            "digest": h.hexdigest()[:16], "embeddings": emb}
