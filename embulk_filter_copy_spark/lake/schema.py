"""Field-id based table schema with add / rename / widen evolution.

Mirrors the capability the reference delegates to per-stage Embulk schema
re-derivation (BreakinBulkLoader.scala:221-234, LoaderState.scala:98-100):
each evolution step yields a NEW schema version; data files remember the
schema version they were written under and are projected to the current
schema at read time by field id (so renames are metadata-only and widenings
are a cast-on-read, exactly like Iceberg).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import types as T

_SPARK_TYPE = {
    "boolean": T.BooleanType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "string": T.StringType(),
    "timestamp": T.TimestampType(),
    "date": T.DateType(),
    "binary": T.BinaryType(),
}

# allowed lossless widenings (Iceberg-compatible set)
_WIDEN_OK = {
    ("int", "long"),
    ("int", "double"),
    ("long", "double"),
    ("float", "double"),
}


# Spark simpleString aliases that normalize back to engine primitive names
_PRIM_ALIAS = {"bigint": "long", "integer": "int", "bool": "boolean"}


def _split_top(s: str) -> list[str]:
    """Split on commas at angle-bracket depth 0 (``a:int,b:map<string,int>``
    → two parts)."""
    parts: list[str] = []
    depth, cur = 0, []
    for ch in s:
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur))
    return parts


def spark_type(name: str) -> T.DataType:
    """Engine type string → Spark type. Primitives come from the fixed map;
    complex types (``array<float>``, ``struct<a:int,b:string>``,
    ``map<string,long>``, arbitrarily nested) parse structurally — the
    capability the reference's JSON column type provides
    (CopyColumnVisitor.scala:53-56: arbitrary nested msgpack values), so
    embedding / feature-vector columns can land in a LakeTable sink. Pure
    Python on purpose: schema handling must not require a live JVM."""
    s = name.strip()
    low = _PRIM_ALIAS.get(s.lower(), s.lower())
    if low in _SPARK_TYPE:
        return _SPARK_TYPE[low]
    if low.startswith("array<") and s.endswith(">"):
        return T.ArrayType(spark_type(s[6:-1]), True)
    if low.startswith("map<") and s.endswith(">"):
        kv = _split_top(s[4:-1])
        if len(kv) != 2:
            raise ValueError(f"unsupported lake type: {name!r}")
        return T.MapType(spark_type(kv[0]), spark_type(kv[1]), True)
    if low.startswith("struct<") and s.endswith(">"):
        body = s[7:-1].strip()
        fields = []
        for part in _split_top(body) if body else []:
            if ":" not in part:
                raise ValueError(f"unsupported lake type: {name!r}")
            fname, ftype = part.split(":", 1)
            fields.append(
                T.StructField(fname.strip().strip("`"), spark_type(ftype), True)
            )
        return T.StructType(fields)
    raise ValueError(f"unsupported lake type: {name!r}")


@dataclass(frozen=True)
class Field:
    id: int
    name: str
    type: str

    def to_json(self) -> dict:
        return {"id": self.id, "name": self.name, "type": self.type}

    @classmethod
    def from_json(cls, d: dict) -> Field:
        return cls(id=d["id"], name=d["name"], type=d["type"])


class SchemaEvolutionError(ValueError):
    pass


@dataclass(frozen=True)
class TableSchema:
    fields: tuple[Field, ...]
    next_id: int

    @classmethod
    def from_pairs(cls, pairs: list[tuple[str, str]]) -> TableSchema:
        fields = tuple(Field(i + 1, n, t) for i, (n, t) in enumerate(pairs))
        for f in fields:
            spark_type(f.type)  # validate
        return cls(fields=fields, next_id=len(fields) + 1)

    @classmethod
    def from_struct(cls, struct: T.StructType) -> TableSchema:
        rev = {v.simpleString(): k for k, v in _SPARK_TYPE.items()}
        pairs = []
        for f in struct.fields:
            key = f.dataType.simpleString()
            # primitives map to engine names; complex types keep their
            # simpleString form, which spark_type parses back via DDL
            pairs.append((f.name, rev.get(key, key)))
        return cls.from_pairs(pairs)

    def to_json(self) -> dict:
        return {"fields": [f.to_json() for f in self.fields], "next_id": self.next_id}

    @classmethod
    def from_json(cls, d: dict) -> TableSchema:
        return cls(
            fields=tuple(Field.from_json(f) for f in d["fields"]),
            next_id=d["next_id"],
        )

    # -- lookups ---------------------------------------------------------
    def names(self) -> list[str]:
        return [f.name for f in self.fields]

    def field(self, name: str) -> Field:
        for f in self.fields:
            if f.name == name:
                return f
        raise KeyError(name)

    def field_by_id(self, fid: int) -> Field | None:
        for f in self.fields:
            if f.id == fid:
                return f
        return None

    def project_from(self, old: TableSchema) -> list:
        """Columns reading a frame written under ``old`` as this schema,
        matched by field id: a renamed field is aliased, a widened one cast,
        and a field ``old`` lacks comes back NULL."""
        from pyspark.sql import functions as F

        cols = []
        for f in self.fields:
            of = old.field_by_id(f.id)
            src = F.lit(None) if of is None else F.col(of.name)
            cols.append(src.cast(spark_type(f.type)).alias(f.name))
        return cols

    def to_struct(self, nullable: bool = True) -> T.StructType:
        return T.StructType(
            [T.StructField(f.name, spark_type(f.type), nullable) for f in self.fields]
        )

    # -- evolution -------------------------------------------------------
    def add_column(self, name: str, type_: str) -> TableSchema:
        if any(f.name == name for f in self.fields):
            raise SchemaEvolutionError(f"column {name!r} already exists")
        spark_type(type_)
        return TableSchema(
            fields=self.fields + (Field(self.next_id, name, type_),),
            next_id=self.next_id + 1,
        )

    def rename_column(self, old: str, new: str) -> TableSchema:
        if any(f.name == new for f in self.fields):
            raise SchemaEvolutionError(f"column {new!r} already exists")
        f = self.field(old)
        return TableSchema(
            fields=tuple(Field(g.id, new, g.type) if g.id == f.id else g for g in self.fields),
            next_id=self.next_id,
        )

    def widen_column(self, name: str, to_type: str) -> TableSchema:
        f = self.field(name)
        if f.type == to_type:
            return self  # idempotent re-apply
        if (f.type, to_type) not in _WIDEN_OK:
            raise SchemaEvolutionError(f"cannot widen {f.type} -> {to_type}")
        return TableSchema(
            fields=tuple(
                Field(g.id, g.name, to_type) if g.id == f.id else g for g in self.fields
            ),
            next_id=self.next_id,
        )

    def drop_column(self, name: str) -> TableSchema:
        """Remove a column from the CURRENT schema. Field ids are never
        reused (``next_id`` keeps advancing), so a later add with the same
        NAME gets a fresh id and old files' values can never resurrect
        under it — the Iceberg id-based drop semantics. Data files keep the
        physical column; reads project by id and simply stop selecting it;
        time travel below the drop still sees it."""
        f = self.field(name)  # raises if absent
        if len(self.fields) == 1:
            raise SchemaEvolutionError("cannot drop the only column")
        return TableSchema(
            fields=tuple(g for g in self.fields if g.id != f.id),
            next_id=self.next_id,
        )

    def apply_change(self, change: dict) -> TableSchema:
        """Apply a CDC schema-change payload:
        ``{"action": "add"|"rename"|"widen"|"drop", ...}``."""
        action = change.get("action")
        if action == "add":
            return self.add_column(change["column"], change["type"])
        if action == "rename":
            return self.rename_column(change["from"], change["to"])
        if action == "widen":
            return self.widen_column(change["column"], change["to"])
        if action == "drop":
            return self.drop_column(change["column"])
        raise SchemaEvolutionError(f"unknown schema-change action: {action!r}")
