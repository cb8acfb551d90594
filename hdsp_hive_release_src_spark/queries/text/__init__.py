"""Text domain: dedup, corpus statistics and quality filters."""
