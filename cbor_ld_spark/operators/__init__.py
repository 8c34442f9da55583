from .kg import (canonical_triples, corpus_metrics,  # noqa: F401
                 process_corpus, triples_table)
