"""Schema-driven type mapping — the vectorized replacement for Sqoop codegen.

Sqoop generates a Java ORM class per table mapping JDBC types to Java/Avro/
Hive types (reference: orm/ClassWriter.java:558-1571;
manager/ConnManager.java:105-162 ``toJavaType``; :189-228 ``toAvroType``;
hive/HiveTypes.java:56-90). In Spark the schema is data, not a compiled
class: the whole codegen stage collapses to a declarative cast plan applied
by Catalyst (JVM-side, whole-stage-codegen'd — no per-row Python).

``JDBC_TO_SPARK`` is the single source of truth for the mapping table in
SURVEY.md §1.2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# JDBC type name (java.sql.Types constant name) → Spark type factory.
# Mirrors ConnManager.toJavaType (manager/ConnManager.java:105-162).
JDBC_TO_SPARK: dict[str, T.DataType] = {
    "INTEGER": T.IntegerType(),
    "TINYINT": T.IntegerType(),
    "SMALLINT": T.IntegerType(),
    "BIGINT": T.LongType(),
    "CHAR": T.StringType(),
    "VARCHAR": T.StringType(),
    "LONGVARCHAR": T.StringType(),
    "NCHAR": T.StringType(),
    "NVARCHAR": T.StringType(),
    "LONGNVARCHAR": T.StringType(),
    "BIT": T.BooleanType(),
    "BOOLEAN": T.BooleanType(),
    "REAL": T.FloatType(),
    "FLOAT": T.DoubleType(),
    "DOUBLE": T.DoubleType(),
    "DATE": T.DateType(),
    "TIME": T.TimestampType(),
    "TIMESTAMP": T.TimestampType(),
    "BINARY": T.BinaryType(),
    "VARBINARY": T.BinaryType(),
    "LONGVARBINARY": T.BinaryType(),
    "BLOB": T.BinaryType(),
    "CLOB": T.StringType(),
}

# Types the reference explicitly does not support
# (manager/ConnManager.java:157 TODO; DataDrivenDBInputFormat.java:129-130).
UNSUPPORTED_JDBC = {"ARRAY", "STRUCT", "REF", "DATALINK", "JAVA_OBJECT"}


def spark_type_for(jdbc_type: str, precision: int = 38, scale: int = 18) -> T.DataType:
    """Resolve a JDBC type name to a Spark type.

    NUMERIC/DECIMAL carry precision/scale (reference keeps BigDecimal;
    Avro side optionally logical decimal — avro/AvroUtil.java:237-247).
    """
    jdbc_type = jdbc_type.upper()
    if jdbc_type in ("NUMERIC", "DECIMAL"):
        return T.DecimalType(precision, scale)
    if jdbc_type in UNSUPPORTED_JDBC:
        raise ValueError(f"JDBC type {jdbc_type} is not supported (matches reference)")
    try:
        return JDBC_TO_SPARK[jdbc_type]
    except KeyError:
        raise ValueError(f"unknown JDBC type: {jdbc_type}") from None


def apply_type_mapping(df: DataFrame, jdbc_schema: dict[str, str]) -> DataFrame:
    """Cast columns per a ``{column: jdbc_type}`` map — the codegen replacement.

    Entirely JVM-side: Catalyst folds the casts into the scan projection, so
    at 100 TB this costs nothing beyond the read itself.
    """
    cols = []
    for field in df.schema.fields:
        spec = jdbc_schema.get(field.name)
        if spec is None:
            cols.append(F.col(field.name))
        else:
            cols.append(F.col(field.name).cast(spark_type_for(spec)).alias(field.name))
    return df.select(*cols)


#: Words a generated identifier may not collide with — the reference avoids
#: Java reserved words (orm/ClassWriter.java identifier cleaning); here the
#: hazard set is SQL keywords that break unquoted column references.
_RESERVED = {
    "select", "from", "where", "group", "order", "by", "table", "column",
    "int", "long", "double", "float", "string", "boolean", "class", "new",
}


def clean_identifier(name: str) -> str:
    """Column name → safe identifier (ClassWriter.cleanColNames semantics:
    non-identifier chars → ``_``, digit-leading names prefixed, reserved
    words suffixed)."""
    cleaned = "".join(c if (c.isalnum() or c == "_") else "_" for c in name)
    if not cleaned or cleaned[0].isdigit():
        cleaned = f"_{cleaned}"
    if cleaned.lower() in _RESERVED:
        cleaned = f"{cleaned}_col"
    return cleaned


def clean_identifiers(df: DataFrame) -> DataFrame:
    """Rename every column through ``clean_identifier`` (collision-checked)."""
    seen: dict[str, int] = {}
    cols = []
    for f in df.schema.fields:
        new = clean_identifier(f.name)
        if new in seen:
            seen[new] += 1
            new = f"{new}_{seen[new]}"
        else:
            seen[new] = 0
        cols.append(F.col(f"`{f.name}`").alias(new))
    return df.select(*cols)
