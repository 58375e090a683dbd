"""sm_etl_cloud_run_spark — a PySpark-native analytics engine.

A brand-new engine providing the query and data-processing capabilities of
the reference ETL system (ImpulsoGov/sm-etl-cloud-run — a pandas two-stage
batch ETL: DATASUS/SISAB extraction, relational cleaning, bronze CSV landing,
idempotent watermark-gated warehouse loads), re-expressed Spark-first:

- every scalar cleaning rule is a Catalyst column expression
  (``functions/``), never a row-wise Python lambda;
- dimension lookups are broadcast joins, the date→period lookup is a
  broadcast range join (``operators/joins.py``);
- chunked-generator extraction becomes partitioned DataFrame scans
  (``sources/``), delete-then-insert loads become staged transactional
  JDBC loads (``sinks/``);
- watermark gating becomes a predicate over the driver-side control
  ledger driving incremental batch runs (``sinks/watermark.py``);
- plus large-scale pipeline operators the reference lacks: dedup
  (exact / MinHash-LSH / SimHash / n-gram Jaccard), similarity search,
  text analysis, multimodal column plumbing (``operators/``).

Designed for a multi-executor cluster at ~100 TB: broadcast where small,
pre-aggregate before shuffles, push filters to the parquet scan, keep the
hot path inside whole-stage codegen.
"""

__version__ = "0.1.0"
