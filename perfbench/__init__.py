"""KG-construction benchmark for rdf_rdfxml_spark (entry point: run.py)."""
