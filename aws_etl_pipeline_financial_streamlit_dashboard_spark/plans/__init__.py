"""Full query plans: the product's cleaning transform and dashboard
queries, and the driver's query catalog (``catalog``, ``catalog_*``,
``registry``)."""
