"""Pipeline operators: extract (run inside the mention stage's UDF),
mention, link, canonicalize, materialize, plus training-data-pipeline
operators (dedup, similarity, text stats)."""
