"""The engine's stored-table layer: the snapshot-versioned parquet
warehouse (storage_versioned), under the name the CLI types against."""

from compendium_spark.storage_versioned import VersionedWarehouse as Warehouse  # noqa: F401
