"""bgp_feature_extractor_spark — a from-scratch, PySpark-native point-in-time
feature-engineering engine with the query/data-processing capabilities of
ufam-lia/bgp-feature-extractor (reference at /root/reference, studied for
behavior only; see SURVEY.md for the operator inventory and file:line parity
citations).

Design: DataFrame/SQL-first. The reference's mutable per-entity RIB state
(`bgpmetrics_as.py:257-258`) is re-expressed as window functions over
`(source, doc_id)` partitions; the per-bin accumulators
(`bgpmetrics_as.py:199-253`) become one `groupBy(source, bin).agg(...)`;
edit distance is Spark's builtin `levenshtein` over token ids encoded as
code points (`functions/editdist.py`); the only Python-side kernel is the
sequential rare-token fold (`operators/rare.py`, quirk Q5).
"""

__version__ = "0.1.0"

from bgp_feature_extractor_spark.config import EngineConfig
from bgp_feature_extractor_spark.session import get_spark

__all__ = ["EngineConfig", "get_spark", "__version__"]
