"""PySpark-native analytics engine with the query & data-processing
capabilities of punit170/Big-Data-Graph-Analysis-with-Spark ("MitMStatSim").

The reference is a Scala/spark-core MitM-attack statistics simulator
(random walks over a perturbed graph + one-pass SimRank node matching).
This engine re-expresses every operator Spark-first: DataFrame/SQL plans
optimized by Catalyst, a seeded `applyInPandas` walk kernel for the one
genuinely sequential piece, and one Python matcher task that runs every
round's SimRank, best match and max-merge in place of the reference's
custom accumulator (see SURVEY.md §2 for the inventory).

Beyond the reference surface it adds large-scale training-data pipeline
operators: deduplication (exact / MinHash-LSH / SimHash / n-gram Jaccard /
embedding-cosine), similarity search, text analysis, and multimodal
column plumbing.
"""

__version__ = "0.1.0"

from .model import EDGE_SCHEMA, VERTEX_SCHEMA, NetGraph  # noqa: F401
from .session import get_spark, quiet_window_warns  # noqa: F401
