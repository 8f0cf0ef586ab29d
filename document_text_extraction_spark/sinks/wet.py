"""WET sink — emit extraction output as Common-Crawl-style WET files
(WARC/1.0 ``conversion`` records carrying UTF-8 plain text, ISO 28500;
the sidecar format Common Crawl distributes extracted text in).

A training-data pipeline interoperates in both directions: it READS
crawler WARC (``sources/warc.py``) and it PUBLISHES extracted text
downstream — and the lingua franca for published web text is WET
(C4, CCNet, RefinedWeb, FineWeb all started from WET files). This
module is the publish side, Spark-first:

* :func:`write_wet` — distributed sink: repartition to the target file
  count, then each task serializes its rows with the same generator
  the WARC tests use (``sources.warc.make_warc`` with
  ``record_type='conversion'``) and lands ``part-NNNNN.warc.wet[.gz]``
  via write-to-temp + atomic rename keyed on (partitionId,
  attemptNumber) — a retried task can never leave a half-written
  visible file, and a speculative duplicate loses the rename race
  harmlessly (same bytes). Returns the file manifest as a DataFrame
  (one row per file: path, records, bytes) computed IN the same job —
  no second pass over the data.
* :func:`wet_text_df` — the matching source: ``binaryFile`` scan →
  ``sources.warc.parse_wet`` per file → ``(url, warc_ts, text)`` rows,
  closing the roundtrip (publish → re-ingest byte-identically).

Local/posix rename semantics; on an object store you'd route the same
serialization through the cluster's output committer instead (the
rename is the only non-portable piece).

Reference analogue: the reference's TXT sink writes one loose
``.txt`` per document (``batch_multi_column.py:568-575``); at crawl
scale loose files are untenable — WET is the container form of the
same sink.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterable, Iterator
from datetime import datetime, timezone

import pandas as pd
from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.warc import make_warc, parse_wet

_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)

WET_MANIFEST_SCHEMA = T.StructType([
    T.StructField("path", T.StringType()),
    T.StructField("records", T.LongType()),
    T.StructField("bytes", T.LongType()),
])

WET_TEXT_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("warc_ts", T.TimestampType()),
    T.StructField("text", T.StringType()),
])


def write_wet(df: DataFrame, out_dir: str,
              url_col: str = "url",
              text_col: str = "extracted_text",
              ts_col: str | None = None,
              n_files: int | None = None,
              compress: bool = True) -> DataFrame:
    """Write ``df``'s ``(url, text[, ts])`` columns as WET files under
    ``out_dir``; returns the file manifest (path, records, bytes).

    ``n_files`` defaults to the frame's current partitioning; pass an
    explicit count to bin-pack (WET convention is ~150MB gzip files).
    Rows with null text are skipped (a parse-failure row has nothing
    to publish). Missing/NULL timestamps serialize as the epoch —
    WET consumers treat WARC-Date as metadata, and a deterministic
    sentinel keeps output bytes reproducible run-to-run.
    """
    slim = df.select(
        F.col(url_col).alias("__url"), F.col(text_col).alias("__text"),
        *([F.col(ts_col).alias("__ts")] if ts_col else []))

    def records(b: pd.DataFrame) -> Iterator[tuple]:
        for url, text in zip(b["__url"], b["__text"]):
            skip = text is None or (isinstance(text, float)
                                    and pd.isna(text))
            yield url, None if skip else str(text).encode("utf-8")

    return _write_parts(slim, out_dir, ".warc.wet", compress, n_files,
                        "conversion", "text/plain", records)


def _write_parts(slim: DataFrame, out_dir: str, ext: str, compress: bool,
                 n_files: int | None, record_type: str, content_type: str,
                 records: Callable[[pd.DataFrame], Iterable[tuple]]
                 ) -> DataFrame:
    """The task protocol of the WET and WAT sinks: each task turns its
    rows into WARC records (``records(batch)`` yields one
    ``(url, payload)`` per row, payload None to skip the row; the
    optional ``__ts`` column gives WARC-Date, the epoch when null or
    NaN), serializes them with ``make_warc`` and lands
    ``part-NNNNN{ext}[.gz]`` by write-to-temp + atomic rename keyed on
    (partitionId, attemptNumber). Returns the manifest (path, records,
    bytes), one row per non-empty task, computed in the same job."""
    if n_files is not None:
        slim = slim.repartition(n_files)
    os.makedirs(out_dir, exist_ok=True)
    if compress:
        ext += ".gz"

    def _write(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tc = TaskContext.get()
        pid = tc.partitionId() if tc else 0
        att = tc.attemptNumber() if tc else 0
        recs: list[dict] = []
        for b in batches:
            tss = b["__ts"] if "__ts" in b.columns else [None] * len(b)
            for (url, payload), ts in zip(records(b), tss):
                if payload is None:
                    continue
                if ts is None or pd.isna(ts):
                    ts = _EPOCH
                elif isinstance(ts, pd.Timestamp):
                    ts = ts.to_pydatetime()
                recs.append({"url": url, "ts": ts, "payload": payload,
                             "record_type": record_type,
                             "content_type": content_type})
        if not recs:
            yield pd.DataFrame([], columns=["path", "records", "bytes"])
            return
        data = make_warc(recs, per_record_gzip=compress)
        final = os.path.join(out_dir, f"part-{pid:05d}{ext}")
        tmp = os.path.join(out_dir, f"._tmp-{pid:05d}-{att}{ext}")
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, final)
        yield pd.DataFrame(
            [(final, len(recs), len(data))],
            columns=["path", "records", "bytes"])

    return slim.mapInPandas(_write, schema=WET_MANIFEST_SCHEMA)


def wet_text_df(spark: SparkSession, path: str) -> DataFrame:
    """Distributed WET ingestion: ``binaryFile`` scan over a
    file/glob/directory → per-file ``conversion``-record parse →
    ``(url, warc_ts, text)`` rows. One WET file = one task, matching
    :func:`..sources.warc.warc_pages_df`."""
    files = spark.read.format("binaryFile").load(path).select("content")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = [(r["url"], r["warc_ts"], r["text"])
                    for content in b["content"]
                    for r in parse_wet(bytes(content))]
            yield pd.DataFrame(rows, columns=["url", "warc_ts", "text"])

    return files.mapInPandas(gen, schema=WET_TEXT_SCHEMA)
