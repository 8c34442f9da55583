from .pipeline import build_kg, edges_table, nodes_table  # noqa: F401
from .shared import (  # noqa: F401
    clear_shared_triples,
    shared_canonical_triples,
    shared_docs,
    shared_entity_edges,
    shared_triples,
)
