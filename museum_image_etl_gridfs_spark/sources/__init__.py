"""Source/sink connectors at the engine's edges.

- :mod:`.http` — the reference's REST ingestion (S1-S3) as
  batch-HTTP mapInPandas stages with an injectable transport.
- :mod:`.museum_api` — the same ingestion as a ``format("museum_api")``
  Python DataSource.

GridFS itself is emulated in Spark (operators/gridfs.py) as
(files, chunks) tables; there is no MongoDB writer.
"""
