"""The streaming KG pipeline: stages 2-5 over arriving pages (kg_stream)."""
