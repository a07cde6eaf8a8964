"""Persisted-state infrastructure shared by the state-backed operators."""
