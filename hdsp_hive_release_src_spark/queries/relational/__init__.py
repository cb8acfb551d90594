"""Relational domain: TPC-H and relational SQL."""
