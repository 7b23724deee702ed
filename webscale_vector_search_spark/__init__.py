"""webscale_vector_search_spark — a PySpark-native analytics engine with the
query and data-processing capabilities of rnaarla/webscale_vector_search.

The reference (vector_search_cluster.py) is a distributed FAISS kNN serving
system: offline sharded index build + online scatter-gather top-k search.
This engine re-expresses those capabilities — and the LLM-data-pipeline
operators a 100 TB training corpus needs — as declarative Spark DataFrame
programs optimized by Catalyst:

- index build    -> partitioned Parquet write job        (plans.build)
- kNN search     -> crossJoin/centroid-join + window     (operators.knn)
- IVF pruning    -> k-means centroids + partition pruning (operators.ivf)
- PQ compression -> codebook tables + ADC kernel         (operators.pq)
- result cache   -> query-dedup rewrite                  (plans.rewrite)
- metrics        -> aggregate queries                    (operators.metrics)
- dedup / text / similarity / multimodal                 (operators.*)
"""

__version__ = "0.1.0"

from webscale_vector_search_spark.config import EngineConfig
from webscale_vector_search_spark.session import get_spark

__all__ = [
    "EngineConfig",
    "get_spark",
    "__version__",
    # convenience re-exports (imported lazily to keep bare import cheap):
    # webscale_vector_search_spark.api.VectorCluster / create_sharded_index
    # webscale_vector_search_spark.plans.build.build_index / search_index
]
