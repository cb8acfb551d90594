"""IO and catalog domain: formats and sources, DDL and catalog."""
