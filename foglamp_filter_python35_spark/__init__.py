"""foglamp_filter_python35_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the capability surface of
``foglamp/foglamp-filter-python35`` (a FogLAMP streaming filter plugin that
embeds Python 3.5 to transform micro-batches of sensor readings; see
reference ``plugin.cpp:29-53`` for the contract) as an idiomatic Apache
Spark engine:

* the Reading data model  -> a typed DataFrame schema (``datamodel``)
* the filter-plugin contract (scale/offset, add-constant, asset filter,
  payload projection, empty-payload drop, metadata carry, type coercion)
  -> Catalyst-native DataFrame operators (``operators.readings``)
* the arbitrary-Python-function surface (``plugin.cpp:284-287``)
  -> an Arrow-batched ``mapInArrow`` runner with the reference's
  whole-batch-reject / pass-through-on-error semantics
  (``operators.python_filter``)
* the micro-batch pipeline (ingest -> filter chain -> output stream)
  -> Structured Streaming with ``foreachBatch`` (``streaming.pipeline``)
* plus the LLM-data-pipeline extension operators (dedup, similarity
  search, text analysis, multimodal columns) mandated by the build brief
  (``functions.*``), designed for 100 TB scale.

Everything here is built on public PySpark APIs only.
"""

__version__ = "0.1.0"

from foglamp_filter_python35_spark.session import get_spark  # noqa: F401
