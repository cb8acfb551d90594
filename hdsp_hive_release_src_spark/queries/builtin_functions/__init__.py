"""Builtin functions domain, split by function family."""
