"""document_text_extraction_spark — a from-scratch PySpark-native
main-content extraction engine for Common-Crawl-style web pages.

Blueprint: pavindranvelalagan/Document-Text-Extraction (see SURVEY.md).
The reference is a set of single-node PDF layout-extraction experiments;
this package re-expresses the same semantics Spark-first:

  read (url, warc_ts, html:binary, text, lang)
    -> content-sniff route (HTML vs PDF vs unknown)
    -> per-document extraction over pandas/Arrow batches (mapInPandas)
    -> (url, extracted_text, spans, fields, lineage)
    -> bucketed-url-hash partitioned, checkpoint-resumable write
       with per-partition counters.

Modules
-------
corpus     deterministic synthetic page generator (HTML / PDF-1.4 subset /
           malformed), no external data, no wall clock
oracle     single-document pure-Python extractor — the one implementation
           every Spark path runs and must match byte-identically
kernels    Arrow-batch boundary: oracle.extract_document per document
pipeline   the Spark job: salted bucketing, mapInPandas, metrics, resume
functions  Spark-native (JVM-side) column expression library: regex field
           extraction, text statistics, quality scoring
operators  dataset-level operators: dedup (exact/minhash/simhash/jaccard),
           similarity search, sessionization
"""

__version__ = "0.1.0"
