"""Error types mirroring the reference's error enum (ref: src/error.rs:1-86)."""

from __future__ import annotations


class DuckLakeError(Exception):
    """Base error for the DuckLake Spark connector."""


class CatalogError(DuckLakeError):
    """Catalog-DB level failure (ref: DuckLakeError::Catalog)."""


class SchemaNotFound(DuckLakeError):
    def __init__(self, name: str):
        super().__init__(f"Schema not found: {name}")
        self.name = name


class TableNotFound(DuckLakeError):
    def __init__(self, name: str):
        super().__init__(f"Table not found: {name}")
        self.name = name


class UnsupportedType(DuckLakeError):
    """Type not supported by DuckLake (ref: DuckLakeError::UnsupportedType,
    struct/map/nested-list rejection in src/types.rs:74-88)."""


class InvalidConfig(DuckLakeError):
    """Invalid configuration or argument (ref: DuckLakeError::InvalidConfig)."""


class InvalidPath(DuckLakeError):
    """Path failed traversal/safety validation (ref: src/path_resolver.rs:12-83)."""


class TransactionConflict(DuckLakeError):
    """A concurrent writer superseded state this transaction read
    (write-write conflict on the same rows); retry the statement
    (corpus: sql/transaction/transaction_conflicts_delete.test —
    DuckDB's ducklake extension aborts the same way)."""


class CatalogCorruption(DuckLakeError):
    """A file referenced by the catalog is missing, or a staged file is not
    what the catalog would record for it — surfaced as corruption, never
    as silent wrong results (ref: src/table.rs:340-354, 736-748)."""


class MergeActionError(DuckLakeError):
    """MERGE INTO hit a WHEN ... THEN ERROR action (corpus:
    sql/merge/merge_into_tpch.test_slow — WHEN MATCHED THEN ERROR
    guards a merge that must only ever insert). The merge aborts before
    any snapshot is written."""
