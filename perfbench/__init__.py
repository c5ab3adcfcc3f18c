"""Pages-to-triples benchmark for kgner (see README.md)."""
