"""The query catalog: importing this package registers every
query+oracle pair into REGISTRY (catalog/_shared.py). Parts are
ordered; each may reference builders from earlier parts."""

from . import part01_pricing_summary  # noqa: F401
from . import part02_revenue_share  # noqa: F401
from . import part03_tpch_q4_priority_c  # noqa: F401
from . import part04_k_anonymity_audit  # noqa: F401
from . import part05_bloom_filter_fpr  # noqa: F401
from . import part06_energy_distance_tw  # noqa: F401
from . import part07_split_conformal_in  # noqa: F401
from . import part08_partial_pooling_es  # noqa: F401
from . import part09_scaling_law_fit  # noqa: F401
from . import part10_data_selection  # noqa: F401
from . import part11_gopher_rules  # noqa: F401
from . import part12_recsys_trees  # noqa: F401
from . import part13_ml_training  # noqa: F401
from . import part14_entity_resolution  # noqa: F401
from . import part15_cv_quantreg  # noqa: F401
from . import part16_semistructured  # noqa: F401
from . import part17_feature_eval  # noqa: F401
from . import part18_quality_contracts  # noqa: F401
from . import part19_hits_seqmine  # noqa: F401
from . import part20_recsys_eval  # noqa: F401
from . import part21_retrieval_eval  # noqa: F401
from . import part22_graph_quality  # noqa: F401
from . import part23_quantization_retrieval  # noqa: F401
from . import part24_storage_layout  # noqa: F401
from . import part25_lakehouse_sql  # noqa: F401
from ._shared import (  # noqa: F401
    REGISTRY,
    QuerySpec,
    canon_round,
    headline_queries,
    oracle_sql,
    queries,
    register,
)
