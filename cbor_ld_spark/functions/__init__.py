from .udfs import jsonld_sniff, kg_process_batches, map_rows  # noqa: F401
