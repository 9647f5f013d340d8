"""atac_data_products_spark — a PySpark-native analytics engine.

A brand-new, Spark-first re-expression of the query and data-processing
capabilities of ``hubmapconsortium/atac-data-products`` (surveyed in
``SURVEY.md``; reference citations use ``file:line`` into the read-only
snapshot).  The reference is an eager single-node pandas/anndata ETL
pipeline; this engine rebuilds its semantics as lazy DataFrame plans over
Parquet, letting Catalyst supply the optimizer the reference lacks, and
adds the large-scale training-data-pipeline operators (dedup, similarity
search, text analysis, multimodal plumbing) the reference never had.

Layout:
  session     — SparkSession builder (AQE on, tuned for local[N] testing,
                designed for multi-executor clusters)
  sources/    — scans: parquet tables, TSV manifest, YAML/JSON dims,
                h5ad-shaped ingestion boundary, mock REST search
  operators/  — relational core: projections, filters, joins, unions,
                aggregations, windows
  functions/  — scalar/column expression library (strings, hashes, vectors)
  plans/      — composed pipelines (product build, manifest build)
  extensions/ — dedup, similarity search, text analysis, multimodal
  sinks/      — TSV / parquet-product / metadata-JSON / .h5mu writers
  registry    — the (queries, oracle_sql) contract surface for the driver
"""

__version__ = "0.1.0"
