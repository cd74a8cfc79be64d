from .aggregates import dsum, davg, pround, pround_sql

__all__ = ["dsum", "davg", "pround", "pround_sql"]
