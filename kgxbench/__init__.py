"""pages->triples benchmark (see README.md)."""
