"""PySpark-native analytics engine with the query and data-processing
capabilities of the reference AWS-ETL-Pipeline-Financial-Streamlit-Dashboard
(see SURVEY.md), re-expressed Spark-first: DataFrame/SQL plans optimized by
Catalyst, declarative sources/sinks, and LLM-data-pipeline extension
operators (dedup, similarity search, text analysis, multimodal columns)
designed for horizontal scale.

The product is the refresh and the dashboard:
- ``sources``          the ``financial_api`` extract (``datasource``,
                       ``api_fetch``), table readers and parquet writers
- ``plans.cleaning``   the transform that builds the four serving tables
- ``plans.dashboard``  the six ticker-page queries over those tables
- ``streaming.jobs``   event-drop dedup into parquet
with ``session`` (SparkSession factory), ``schemas`` (explicit
StructTypes) and the ``operators.core``/``functions`` helpers they use.

The driver's query catalog is everything else: ``plans.catalog`` imports
every ``plans/catalog_*`` entry (registered through ``plans.registry``)
and backs ``__spark_entry__.queries()``; most of ``operators`` and
``streaming.stateful`` serve only the catalog.

No ``__init__`` exports anything (except the two ``sources`` names
``perfbench`` imports): import the submodule you use, so a product
import loads only the product.
"""
