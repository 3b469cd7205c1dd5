"""PySpark-native analytics engine with the query and data-processing
capabilities of the reference project ``kelasih/aws-etl-global-footprint-network``.

The reference delegates all query processing to DuckDB/Polars
(reference: README.md:23-30); here Catalyst/Tungsten play that role.
The engine is organised as:

- ``session``    — SparkSession factory tuned for local testing and
                   scale-out posture (AQE, broadcast thresholds, UTC).
- ``schemas``    — explicit StructTypes for the reference's warehouse
                   tables (reference: local_test/scripts/local_data_ingestion.py:31-49)
                   and the driver test tables.
- ``sources``    — readers/writers (CSV/JSON/Parquet) and the async REST
                   extraction connector (reference: local_test/scripts/local_data_extraction.py).
- ``functions``  — scalar/aggregate expression builders: the ``%Y-%W``
                   week label, log-compound returns, text statistics,
                   vector math. All built-ins — no row-at-a-time UDFs.
- ``operators``  — query builders: market-returns analytics
                   (reference: mkt_returns/sql_test_mkt_returns.ipynb), ingestion
                   pipeline, relational operator library, dedup,
                   similarity search, multimodal plumbing.
- ``streaming``  — Structured Streaming ports (file-source ingestion
                   with Trigger.AvailableNow, windowed aggs, stateful).
- ``plans``      — plan-inspection helpers (pushdown/broadcast asserts).
- ``worker_imports`` — keeps Spark Python workers from re-reading
                   unchanged zip archives before every task.
"""

__version__ = "0.1.0"

# A Spark worker imports the package when it unpickles an engine kernel;
# from then on its per-task import-cache invalidation skips unchanged
# archives (see worker_imports). A no-op on the driver.
from aws_etl_global_footprint_network_spark.worker_imports import install_in_worker

install_in_worker()
del install_in_worker
