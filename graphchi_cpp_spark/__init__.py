"""graphchi_cpp_spark — a PySpark-native graph analytics engine.

Re-expresses the full capability surface of GraphChi (graphchi-cpp, OSDI'12
Parallel Sliding Windows engine) on top of Spark DataFrames:

- Property graph = vertex/edge DataFrames (``graph.PropertyGraph``).
- The reference's update(v, ctx) (``src/api/graphchi_program.hpp:87``)
  becomes a BSP superstep built from join + groupBy().agg(), with
  Catalyst optimizing every superstep. Shared superstep loops run the
  min-label algorithms (WCC and SCC's colouring:
  ``algos.connected_components.min_label_supersteps``) and the
  sum-propagation ones (batch and streaming PageRank:
  ``algos.pagerank.pagerank_supersteps``); the other algorithms in
  ``algos/`` (LPA, triangles, k-cores, MSF, random walks, ...) write
  their own loops. ``pregel.Pregel`` is the general aggregate-messages
  API, exercised by its tests; no production algorithm runs on it.
- The collaborative-filtering toolkit (ALS, item-CF, baselines,
  recommendations, eval) lives in ``cf/``.
- Sources/sinks for the reference's text formats in ``sources/``.
- Streaming graph ingestion (dynamic engine equivalent) in ``streaming/``.
- Large-scale training-data-pipeline operators (dedup, similarity search,
  text analysis, multimodal columns) in ``operators/``.

Design rules (enforced throughout):
- DataFrame/SQL first; no RDDs; Python UDFs only where expression DSL
  genuinely cannot express the semantics (then Arrow-batched pandas UDFs).
- Iterative loops are driver-side with localCheckpoint() lineage cuts.
- Frontier (selective-scheduling, reference ``src/engine/bitset_scheduler.hpp``)
  filtering so convergent algorithms do not do full passes.
"""

from graphchi_cpp_spark.graph import PropertyGraph
from graphchi_cpp_spark.pregel import Pregel, aggregate_messages

__all__ = ["PropertyGraph", "Pregel", "aggregate_messages"]
__version__ = "0.1.0"
