"""Batch and streaming sources.

- ``testdata``  -- the driver's TPC-H-ish parquet star schema.
- ``cdc_schemas`` -- explicit schemas and primary keys of the
  reference's 4 CDC tables (FIXTURES.md section 1).
- ``fixtures``  -- seeded synthetic generator for the reference-shaped
  tables (customers/merchants/products/transactions) used by CDC and
  dashboard tests.
- ``changefeed`` -- file-backed CDC change-feed streaming source.
"""

from .testdata import TESTDATA_TABLES, load_table, load_tables, register_views

__all__ = ["TESTDATA_TABLES", "load_table", "load_tables", "register_views"]
