from .catalog import TABLES, load_table, load_tables, register_views

__all__ = [
    "TABLES",
    "load_table",
    "load_tables",
    "register_views",
]
