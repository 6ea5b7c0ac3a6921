"""pgvectorscale_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of timescale/pgvectorscale (the `diskann`
Postgres index access method), rebuilt Spark-first.

The reference (/root/reference/pgvectorscale) accelerates one query shape:

    SELECT * FROM tbl
    [WHERE labels && ARRAY[...]::smallint[]]
    ORDER BY embedding <=> $q        -- or <-> (L2), <#> (inner product)
    LIMIT k;

This package re-expresses those capabilities — plus the large-scale
training-data pipeline operators (dedup, similarity search, text analysis,
multimodal columns) — as idiomatic PySpark: DataFrame/SQL plans that Catalyst
optimizes, with the ANN math (SBQ quantization, Hamming distance, Vamana
graph build/search, alpha-prune) in vectorized numpy inside Arrow-batched
pandas UDFs.

Layout
------
functions/   distance kernels, hashing, text-analysis column expressions
operators/   knn (exact), sbq (quantized scan), diskann (graph ANN), ivf,
             dedup, similarity, multimodal, relational
sources/     table loaders, index persistence (parquet + JSON meta sidecar)
plans/       plan-inspection helpers (pushdown / codegen assertions)
streaming/   structured-streaming ingest (micro-batch index maintenance)
"""

from pgvectorscale_spark import _gc_freeze, _zipimport_cache
from pgvectorscale_spark.types import DistanceType, IndexMeta

# every Python worker that unpickles a package UDF imports this package, so
# its later tasks skip PySpark's per-task zip directory re-reads and, in a
# reused worker, the per-task full collection's scan of the import heap
_zipimport_cache.install()
_gc_freeze.install()

__version__ = "0.1.0"

__all__ = ["DistanceType", "IndexMeta", "__version__"]
