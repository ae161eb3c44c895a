"""trendengine_spark — a PySpark-native analytics engine with the
query and data-processing capabilities of OlaMag/TrendEngine, rebuilt
Spark-first (see README.md and SURVEY.md).

Public surface:

- :mod:`trendengine_spark.engine` — the two analytical flows
  (``polytrend``, ``dbest``), AOI filters, the D4 emptiness guard.
- :mod:`trendengine_spark.operators` — reusable Spark-first operators
  (composites, quality gate, roll-up stats, relational helpers,
  dedup, similarity, text, multimodal).
- :mod:`trendengine_spark.functions` — the numpy analytical core
  (PolyTrend, DBEST, stattools), run per series by one sorted
  ``mapInArrow`` pass (``operators.util.fit_series``).
- :mod:`trendengine_spark.streaming` — Structured Streaming twins.
- :mod:`trendengine_spark.queries` — the declared query registry
  (driver contract).
"""

from trendengine_spark.engine import (  # noqa: F401
    EmptySelectionError,
    dbest,
    filter_bbox,
    filter_point,
    filter_years,
    polytrend,
    polytrend_stats,
    require_nonempty,
)
from trendengine_spark.session import get_spark  # noqa: F401
from trendengine_spark.tables import load_table, load_tables, register_views  # noqa: F401
