from .pages import read_table

__all__ = ["read_table"]
