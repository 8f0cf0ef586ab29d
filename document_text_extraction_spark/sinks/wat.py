"""WAT sink — emit extraction metadata as Common-Crawl-style WAT files
(WARC/1.0 ``metadata`` records carrying a JSON envelope per page).

Common Crawl ships three sidecars per crawl: WARC (raw), WET
(extracted text — :mod:`.wet`), and WAT (per-record metadata: the
outgoing links with their anchor text, head metas, server info). WAT
is what link-graph and anchor-text consumers read WITHOUT touching the
raw payloads; this module is the publish side over the extraction
output's ``fields`` struct (outlinks ∥ anchors collected in the single
extraction pass, meta robots) — and the matching source closes the
roundtrip.

* :func:`write_wat` — the distributed-sink skeleton it shares with
  :func:`.wet.write_wet` (``wet._write_parts``: repartition →
  per-task serialization via ``sources.warc.make_warc`` with
  ``record_type='metadata'`` →
  write-to-temp + atomic rename keyed on (partitionId,
  attemptNumber)); returns the file manifest computed in the same job.
  The JSON envelope follows WAT's shape
  (``Envelope.Payload-Metadata.HTTP-Response-Metadata.HTML-Metadata``
  with ``Links: [{path: "A@/href", url, text}]`` and
  ``Head.Metas: [{name: "robots", content}]``), serialized with a
  fixed key order so output bytes are reproducible run-to-run.
* :func:`wat_links_df` — ``binaryFile`` scan →
  ``sources.warc.parse_wat`` per file (framing only — the JSON stays a
  string) → ``from_json`` with an explicit schema (JVM-side, pruned to
  the fields asked for) → one row per link ``(url, warc_ts, href,
  anchor)``. Downstream link-graph/anchor-index aggregation over a WAT
  re-read must therefore equal the same aggregation over the live
  extraction output — the roundtrip the registry query pins.

Reference analogue: none (the reference emits no metadata sidecar);
this belongs to the crawl-interop family (warc.py, wet.py, CDX).
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.warc import parse_wat
from .wet import _write_parts

# the envelope subset we publish; from_json prunes to what a reader
# selects, so growing this schema is backward-compatible
WAT_ENVELOPE_SCHEMA = T.StructType([T.StructField("Envelope", T.StructType([
    T.StructField("WARC-Header-Metadata", T.StructType([
        T.StructField("WARC-Target-URI", T.StringType()),
    ])),
    T.StructField("Payload-Metadata", T.StructType([
        T.StructField("HTTP-Response-Metadata", T.StructType([
            T.StructField("HTML-Metadata", T.StructType([
                T.StructField("Links", T.ArrayType(T.StructType([
                    T.StructField("path", T.StringType()),
                    T.StructField("url", T.StringType()),
                    T.StructField("text", T.StringType()),
                ]))),
                T.StructField("Head", T.StructType([
                    T.StructField("Metas", T.ArrayType(T.StructType([
                        T.StructField("name", T.StringType()),
                        T.StructField("content", T.StringType()),
                    ]))),
                ])),
            ])),
        ])),
    ])),
]))])


def _envelope(url: str, hrefs, anchors, meta_robots: str) -> str:
    # Arrow batches surface array columns as numpy arrays, where bare
    # truthiness is ambiguous — test None explicitly
    hrefs = [] if hrefs is None else list(hrefs)
    anchors = [] if anchors is None else list(anchors)
    links = [{"path": "A@/href", "url": h, "text": a}
             for h, a in zip(hrefs, anchors)]
    metas = ([{"name": "robots", "content": meta_robots}]
             if meta_robots else [])
    return json.dumps({"Envelope": {
        "WARC-Header-Metadata": {"WARC-Target-URI": url},
        "Payload-Metadata": {"HTTP-Response-Metadata": {
            "HTML-Metadata": {"Links": links, "Head": {"Metas": metas}},
        }},
    }}, separators=(",", ":"))


def write_wat(df: DataFrame, out_dir: str,
              url_col: str = "url",
              outlinks_col: str = "fields.outlinks",
              anchors_col: str = "fields.anchors",
              robots_col: str = "fields.meta_robots",
              ts_col: str | None = None,
              n_files: int | None = None,
              compress: bool = True) -> DataFrame:
    """Write each row's link/meta metadata as a WAT ``metadata`` record
    under ``out_dir``; returns the file manifest (path, records,
    bytes). Same atomic-rename task protocol as :func:`.wet.write_wet`.
    """
    slim = df.select(
        F.col(url_col).alias("__url"),
        F.col(outlinks_col).alias("__hrefs"),
        F.col(anchors_col).alias("__anchors"),
        F.col(robots_col).alias("__robots"),
        *([F.col(ts_col).alias("__ts")] if ts_col else []))

    def records(b: pd.DataFrame) -> Iterator[tuple]:
        for url, hrefs, anchors, robots in zip(
                b["__url"], b["__hrefs"], b["__anchors"], b["__robots"]):
            yield url, _envelope(url, hrefs, anchors,
                                 robots or "").encode("utf-8")

    return _write_parts(slim, out_dir, ".warc.wat", compress, n_files,
                        "metadata", "application/json", records)


_WAT_ROWS_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("warc_ts", T.TimestampType()),
    T.StructField("json", T.StringType()),
])


def wat_links_df(spark: SparkSession, path: str) -> DataFrame:
    """Re-ingest WAT files: one row per link ``(url, warc_ts, href,
    anchor)``. Framing is the only Python step; JSON decoding is a
    JVM ``from_json`` and the link explode is map-side."""
    raw = (spark.read.format("binaryFile")
           .load(os.path.join(path, "*.warc.wat*"))
           .select("content"))

    def _parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for data in b["content"]:
                rows.extend(parse_wat(bytes(data)))
            yield pd.DataFrame(
                rows, columns=["url", "warc_ts", "json"])

    rec = raw.mapInPandas(_parse, schema=_WAT_ROWS_SCHEMA)
    env = rec.withColumn(
        "__env", F.from_json("json", WAT_ENVELOPE_SCHEMA))
    links = F.col("__env.Envelope.Payload-Metadata."
                  "HTTP-Response-Metadata.HTML-Metadata.Links")
    return (env.select("url", "warc_ts",
                       F.explode(links).alias("__l"))
            .select("url", "warc_ts",
                    F.col("__l.url").alias("href"),
                    F.col("__l.text").alias("anchor")))
