"""Sources: the deterministic synthetic PDF corpus (`pdf_corpus`)."""
