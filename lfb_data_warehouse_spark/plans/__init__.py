from .queries import REGISTRY, QuerySpec  # noqa: F401
from . import datapipe_queries  # noqa: F401  (registers datapipe queries)
from . import streaming_queries  # noqa: F401  (registers streaming queries)
from . import io_queries  # noqa: F401  (registers IO round-trip queries)
from . import tpch_extra  # noqa: F401  (registers TPC-H remainder battery)
from . import curation_queries  # noqa: F401  (registers curation battery)
from . import analytics_queries  # noqa: F401  (registers extended analytics battery)
from . import rotation

# The driver oracle-checks the first rotation.WINDOW registry entries per
# round. rotation.reorder derives their order from the committed
# CORRECTNESS_r<N>.json rows and tools/oracle_hashes.json: flagship,
# never-green or red, changed oracle, then stalest-first.
_ordered = rotation.reorder(
    REGISTRY, rotation.load_last_green(), rotation.load_snapshot()
)
REGISTRY.clear()
REGISTRY.update(_ordered)
