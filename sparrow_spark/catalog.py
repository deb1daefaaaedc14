"""Engine catalog: schemas, tables, constraints, column identity.

The reference self-hosts its catalog as rows in system tables persisted
through its own KV engine and bootstrapped at startup (reference:
src/meta/initial.rs:23-108, src/meta/def/information_schema.rs:11-158).
The Spark-native design is simpler (SURVEY §3.3 note): Spark's session
catalog does name resolution (databases + external parquet tables), and
the engine keeps the metadata Spark has no concept of — PRIMARY KEY /
UNIQUE constraints, stable per-column store_ids, table options — in a
JSON sidecar per table, recomputing information_schema views on read.

Column identity mirrors the reference: each column gets a stable
`store_id` that survives drops and an `ordinal_position` (reference:
src/meta/meta_def.rs:100-116, src/execute_impl/create_table.rs:50-58).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid
from dataclasses import dataclass, field

# Reference type surface (src/meta/meta_util.rs:548-562): INT/FLOAT/CHAR
# map to Long/Double/String. The engine accepts Spark's native types as
# a superset (SURVEY §1.3 calls the 3-type limit an implementation gap).
MYSQL_TO_SPARK = {
    "int": "bigint",
    "integer": "bigint",
    "bigint": "bigint",
    "smallint": "smallint",
    "tinyint": "tinyint",
    "float": "double",
    "double": "double",
    "real": "double",
    "char": "string",
    "varchar": "string",
    "text": "string",
    "string": "string",
    "boolean": "boolean",
    "date": "date",
    "timestamp": "timestamp",
    "binary": "binary",
    "varbinary": "binary",
    "blob": "binary",
    "tinyblob": "binary",
    "mediumblob": "binary",
    "longblob": "binary",
}

ROWID = "rowid"  # implicit row identity column (reference src/meta/meta_const.rs:59)


@dataclass
class ColumnDef:
    name: str
    spark_type: str
    sql_type: str
    nullable: bool = True
    store_id: int = 0
    ordinal_position: int = 0


@dataclass
class TableDef:
    schema: str
    name: str
    columns: list[ColumnDef] = field(default_factory=list)
    primary_key: list[str] = field(default_factory=list)
    uniques: list[list[str]] = field(default_factory=list)
    engine: str = "parquet"
    next_store_id: int = 1
    # Hive-style partition columns (PARTITIONED BY): data files land in
    # <data>/<col>=<val>/ dirs, so partition-predicate DML and scans
    # touch only matching directories.
    partition_by: list[str] = field(default_factory=list)

    def column(self, name: str) -> ColumnDef | None:
        for c in self.columns:
            if c.name == name.lower():
                return c
        return None

    def key_sets(self) -> list[tuple[str, list[str]]]:
        """(index_name, columns) for every uniqueness constraint."""
        out = []
        if self.primary_key:
            out.append(("PRIMARY", self.primary_key))
        for i, cols in enumerate(self.uniques):
            out.append((f"uniq_{i}", cols))
        return out

    def to_json(self) -> dict:
        return {
            "schema": self.schema,
            "name": self.name,
            "columns": [c.__dict__ for c in self.columns],
            "primary_key": self.primary_key,
            "uniques": self.uniques,
            "engine": self.engine,
            "next_store_id": self.next_store_id,
            "partition_by": self.partition_by,
        }

    @staticmethod
    def from_json(d: dict) -> "TableDef":
        t = TableDef(
            schema=d["schema"],
            name=d["name"],
            primary_key=d["primary_key"],
            uniques=d["uniques"],
            engine=d.get("engine", "parquet"),
            next_store_id=d.get("next_store_id", 1),
            partition_by=d.get("partition_by", []),
        )
        t.columns = [ColumnDef(**c) for c in d["columns"]]
        return t


_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def check_ident(name: str) -> str:
    n = name.strip().strip("`").lower()
    if not _IDENT.match(n):
        raise ValueError(f"invalid identifier: {name!r}")
    if n.startswith("__"):
        # The dunder prefix is reserved for engine-internal helper
        # columns and temp views (__ord/__rn in the INSERT dedup pass,
        # __file in COW file pruning, __new_<c> in ODKU, __snapshot_*
        # views): a user column with one of those names would be
        # silently REPLACED by withColumn mid-plan and then dropped —
        # the same data-destruction class as the fixed _z ZORDER
        # helpers — so the whole prefix is rejected at DDL time
        # instead of suffix-juggling every internal call site.
        raise ValueError(
            f"invalid identifier: {name!r} (the '__' prefix is reserved "
            "for engine-internal columns)"
        )
    return n


def _remove_aside(path: str, parent: str, name: str) -> None:
    """Rename `path` to a hidden sibling in `parent`, then remove it."""
    doomed = os.path.join(parent, f".dropped-{name}-{uuid.uuid4().hex}")
    os.rename(path, doomed)
    shutil.rmtree(doomed)


class EngineCatalog:
    """Filesystem-backed catalog: one directory per schema, one data
    directory + meta.json per table."""

    def __init__(self, warehouse_dir: str):
        self.warehouse = warehouse_dir
        os.makedirs(warehouse_dir, exist_ok=True)

    # ---- paths ----
    def schema_path(self, schema: str) -> str:
        return os.path.join(self.warehouse, schema)

    def table_path(self, schema: str, table: str) -> str:
        return os.path.join(self.warehouse, schema, table)

    def data_path(self, schema: str, table: str) -> str:
        return os.path.join(self.table_path(schema, table), "data")

    def _meta_path(self, schema: str, table: str) -> str:
        return os.path.join(self.table_path(schema, table), "meta.json")

    # ---- schemas ----
    def schemas(self) -> list[str]:
        return sorted(
            d
            for d in os.listdir(self.warehouse)
            if not d.startswith(".")
            and os.path.isdir(os.path.join(self.warehouse, d))
        )

    def has_schema(self, schema: str) -> bool:
        return os.path.isdir(self.schema_path(schema))

    def create_schema(self, schema: str) -> None:
        if self.has_schema(schema):
            raise ValueError(f"Can't create database '{schema}'; database exists")
        os.makedirs(self.schema_path(schema))

    def drop_schema(self, schema: str) -> None:
        if not self.has_schema(schema):
            raise ValueError(f"Can't drop database '{schema}'; database doesn't exist")
        # Moved aside first, as drop_table does: a writer polling a
        # table lock's O_CREAT must not add a file mid-removal.
        _remove_aside(self.schema_path(schema), self.warehouse, schema)

    # ---- tables ----
    def tables(self, schema: str) -> list[str]:
        p = self.schema_path(schema)
        if not os.path.isdir(p):
            return []
        return sorted(
            d
            for d in os.listdir(p)
            if not d.startswith(".") and os.path.isfile(self._meta_path(schema, d))
        )

    def has_table(self, schema: str, table: str) -> bool:
        return os.path.isfile(self._meta_path(schema, table))

    def load(self, schema: str, table: str) -> TableDef:
        if not self.has_table(schema, table):
            raise ValueError(f"Table '{schema}.{table}' doesn't exist")
        with open(self._meta_path(schema, table)) as f:
            return TableDef.from_json(json.load(f))

    def save(self, tdef: TableDef) -> None:
        os.makedirs(self.table_path(tdef.schema, tdef.name), exist_ok=True)
        os.makedirs(self.data_path(tdef.schema, tdef.name), exist_ok=True)
        with open(self._meta_path(tdef.schema, tdef.name), "w") as f:
            json.dump(tdef.to_json(), f, indent=2)

    def drop_table(self, schema: str, table: str) -> None:
        if not self.has_table(schema, table):
            raise ValueError(f"Unknown table '{schema}.{table}'")
        # Move the directory out of the table's path before removing
        # it: a writer waiting for the table's lock reopens the lock
        # file with O_CREAT, and must find no directory rather than add
        # a file to a tree being removed.
        _remove_aside(self.table_path(schema, table), self.schema_path(schema), table)

    def rename_table(
        self, schema: str, table: str, new_schema: str, new_table: str
    ) -> TableDef:
        """Move a table directory (data + meta travel together — one
        filesystem rename, the same unit-of-atomicity the reference gets
        from its sled key prefix move) and rewrite the identity fields
        in meta.json."""
        tdef = self.load(schema, table)
        os.rename(
            self.table_path(schema, table),
            self.table_path(new_schema, new_table),
        )
        tdef.schema = new_schema
        tdef.name = new_table
        self.save(tdef)
        return tdef
