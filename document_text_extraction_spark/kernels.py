"""Arrow-batch boundary of the extraction map.

``extract_batch`` is the body that runs inside ``mapInPandas``: one call
receives a pandas batch of documents and returns the full extraction
record for each. The extraction itself is ``oracle.extract_document``,
called once per document — the only implementation of sniff, HTML
block classification, PDF reading order and link facts. This module only
times each call and lays the records out as batch columns.
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd

from . import oracle


def extract_batch(urls: pd.Series, payloads: pd.Series) -> pd.DataFrame:
    """(url, payload-bytes) batch → full extraction records.

    Output columns: url, status, route, reason, extracted_text, spans
    (list of span dicts), fields (dict), n_pages, n_blocks, elapsed_ms
    — one row per input row, in input order. ``elapsed_ms``
    (``lineage.elapsed_ms`` downstream) times the whole per-document
    extraction: sniff, transfer decode, parse and classify.
    """
    records = []
    elapsed = []
    clock = time.perf_counter
    extract = oracle.extract_document
    for data in payloads:
        t0 = clock()
        records.append(extract(data))
        elapsed.append((clock() - t0) * 1000.0)
    return pd.DataFrame({
        "url": urls.to_numpy(),
        "status": [r["status"] for r in records],
        "route": [r["route"] for r in records],
        "reason": [r["reason"] for r in records],
        "extracted_text": [r["extracted_text"] for r in records],
        "spans": [r["spans"] for r in records],
        "fields": [r["fields"] for r in records],
        "n_pages": np.array([r["n_pages"] for r in records], dtype=np.int64),
        "n_blocks": np.array([r["n_blocks"] for r in records],
                             dtype=np.int64),
        "elapsed_ms": np.array(elapsed, dtype=np.float64),
    })
