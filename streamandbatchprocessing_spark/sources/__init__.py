from .batch import FIXTURE_TABLES, load_table

__all__ = ["FIXTURE_TABLES", "load_table"]
