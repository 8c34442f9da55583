"""cbor_ld_spark — a PySpark-native knowledge-graph construction engine.

Capabilities of spruceid/cbor-ld (JSON-LD <-> CBOR-LD semantic
compression) re-expressed as a distributed dataflow: scan a corpus of
source files, detect/parse JSON-LD, resolve contexts offline, apply the
CBOR-LD term/codec dictionary mapping, verify round-trip invariants,
expand to RDF triples, entity-link + canonicalize, and materialize
node/edge tables — all DataFrame-first, with Arrow batches at every
JVM<->Python boundary (``mapInArrow``, ``arrow_udf``, ``applyInArrow``).
"""

__version__ = "0.1.0"
