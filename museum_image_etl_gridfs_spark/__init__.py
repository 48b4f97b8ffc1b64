"""museum_image_etl_gridfs_spark — a PySpark-native analytics engine.

Brand-new engine with the query/data-processing capabilities of the
reference `madhav-nanda/museum-image-etl-gridfs` (a single-threaded
MongoDB/GridFS image-ETL pipeline), re-expressed Spark-first:

- DataFrame/SQL logical plans, Catalyst/Tungsten physical execution.
- Parquet tables as the durable inter-stage medium; GridFS modeled
  natively as (files, chunks) tables.
- Pandas UDFs only where built-in operators cannot express the
  semantics (image transform, batch HTTP).
- Scale extensions: near-dup (MinHash-LSH, exact Jaccard, spans) and
  text analysis.

See SURVEY.md for the operator inventory this package implements.
"""

__version__ = "0.1.0"
