"""Iceberg-style schema model <-> Spark StructType.

Schemas are fixed, explicit and versioned (reference stores them verbatim in
the metadata JSON — api/handlers/tables.go:133; evolution makes a NEW schema
id, test/server_test.go:216-219). Fields carry stable integer IDs — renames
and evolution resolve by ID, never by name — so the Spark StructField
metadata carries ``iceberg.field-id``.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import types as T

# Iceberg primitive type string <-> Spark type (SURVEY §1.2 mapping).
_TO_SPARK = {
    "boolean": T.BooleanType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "date": T.DateType(),
    "timestamp": T.TimestampNTZType(),
    "timestamptz": T.TimestampType(),
    "string": T.StringType(),
    "uuid": T.StringType(),
    "binary": T.BinaryType(),
    # time has no Spark type: stored as long micros + metadata tag
    "time": T.LongType(),
}
# Keyed by ``DataType.simpleString()``; Iceberg has no 8/16-bit ints, so
# tinyint and smallint widen to int.
_FROM_SPARK = {
    "boolean": "boolean",
    "tinyint": "int",
    "smallint": "int",
    "int": "int",
    "bigint": "long",
    "float": "float",
    "double": "double",
    "date": "date",
    "timestamp_ntz": "timestamp",
    "timestamp": "timestamptz",
    "string": "string",
    "binary": "binary",
}


@dataclass
class NestedField:
    id: int
    name: str
    type: str  # iceberg type string (decimal(p,s) and nested kept verbatim)
    required: bool = False

    def to_json(self) -> dict:
        return {
            "id": self.id,
            "name": self.name,
            "type": self.type,
            "required": self.required,
        }

    @classmethod
    def from_json(cls, d: dict) -> "NestedField":
        return cls(d["id"], d["name"], d["type"], d.get("required", False))


@dataclass
class Schema:
    schema_id: int
    fields: list[NestedField] = field(default_factory=list)

    def to_json(self) -> dict:
        return {
            "type": "struct",
            "schema-id": self.schema_id,
            "fields": [f.to_json() for f in self.fields],
        }

    @classmethod
    def from_json(cls, d: dict) -> "Schema":
        return cls(d["schema-id"], [NestedField.from_json(f) for f in d["fields"]])

    def field_names(self) -> list[str]:
        return [f.name for f in self.fields]

    def highest_field_id(self) -> int:
        return max((f.id for f in self.fields), default=0)

    def to_spark(self) -> T.StructType:
        out = []
        for f in self.fields:
            if f.type.startswith("decimal"):
                p, s = f.type[len("decimal(") : -1].split(",")
                spark_t: T.DataType = T.DecimalType(int(p), int(s))
            elif f.type.startswith("fixed"):
                spark_t = T.BinaryType()
            else:
                spark_t = _TO_SPARK[f.type]
            out.append(
                T.StructField(
                    f.name,
                    spark_t,
                    nullable=not f.required,
                    metadata={"iceberg.field-id": f.id, "iceberg.type": f.type},
                )
            )
        return T.StructType(out)

    @classmethod
    def from_spark(cls, st: T.StructType, schema_id: int = 0) -> "Schema":
        fields = []
        for i, f in enumerate(st.fields, start=1):
            fid = (f.metadata or {}).get("iceberg.field-id", i)
            tname = f.dataType.simpleString()
            if tname.startswith("decimal"):
                ice_t = tname  # decimal(p,s) identical spelling
            elif tname in _FROM_SPARK:
                ice_t = _FROM_SPARK[tname]
            else:
                raise ValueError(f"no Iceberg type for Spark {tname} (field {f.name!r})")
            fields.append(NestedField(fid, f.name, ice_t, required=not f.nullable))
        return cls(schema_id, fields)
