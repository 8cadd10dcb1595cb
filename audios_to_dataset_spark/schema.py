"""Metadata type system: the reference's widening lattice on Spark types.

Reference semantics (/root/reference/src/main.rs:124-142, 211-238):

- ``MetadataType ∈ {String, Bool, Float64, List(T)}``
- every JSON number is Float64 (integers are not distinguished, :215)
- merge(a, b): equal → same; List(a)+List(b) → List(merge(a,b));
  any other conflict → String (:132-142)
- JSON null contributes no type (:236); empty/unknown arrays → List(String)
- reserved keys ``duration``, ``audio``, ``id`` are dropped (:245-247)
- ``transcription: String`` always exists, default ``"-"`` (:152-164)

On Spark we let the native JSON/CSV readers infer, then normalize the
inferred schema through this lattice (SURVEY.md §7.4 item 6): numeric
types collapse to Double, arrays widen element-wise, anything outside the
lattice (struct/map/null) collapses to String via to_json/cast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

RESERVED_KEYS = frozenset({"duration", "audio", "id"})
KEY_COLUMNS = frozenset({"file_name", "relative_path"})
TRANSCRIPTION = "transcription"
TRANSCRIPTION_DEFAULT = "-"


def widen_type(dt: T.DataType) -> T.DataType:
    """Map an inferred Spark type onto the reference lattice."""
    if isinstance(dt, T.BooleanType):
        return T.BooleanType()
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                       T.FloatType, T.DoubleType, T.DecimalType)):
        return T.DoubleType()
    if isinstance(dt, T.StringType):
        return T.StringType()
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(widen_type(dt.elementType))
    # struct / map / null / binary / timestamp … → outside the reference
    # lattice → String (the "any conflict collapses to String" rule).
    return T.StringType()


def _cast_to(colname: str, src: T.DataType, dst: T.DataType):
    col = F.col(colname)
    if src == dst:
        return col
    if isinstance(dst, T.StringType) and isinstance(
        src, (T.ArrayType, T.StructType, T.MapType)
    ):
        # Lattice collapse of nested values renders them as JSON text —
        # the reference stringifies via serde_json::to_string
        # (src/main.rs:502-507).
        return F.to_json(col)
    return col.cast(dst)


def widen_metadata_columns(
    df: DataFrame, passthrough: frozenset[str] = KEY_COLUMNS
) -> DataFrame:
    """Normalize every non-passthrough column of a metadata DataFrame onto
    the lattice, drop reserved keys, and guarantee the transcription column
    with its ``"-"`` default."""
    out_cols = []
    names = set(df.columns)
    for field in df.schema.fields:
        name = field.name
        if name in RESERVED_KEYS:
            continue  # src/main.rs:245-247 — silently dropped
        if name in passthrough:
            out_cols.append(F.col(name))
            continue
        dst = widen_type(field.dataType)
        out_cols.append(_cast_to(name, field.dataType, dst).alias(name))
    out = df.select(*out_cols)
    if TRANSCRIPTION not in names:
        out = out.withColumn(TRANSCRIPTION, F.lit(TRANSCRIPTION_DEFAULT))
    else:
        out = out.withColumn(
            TRANSCRIPTION,
            F.coalesce(F.col(TRANSCRIPTION), F.lit(TRANSCRIPTION_DEFAULT)),
        )
    return out


def hf_feature(dt: T.DataType) -> dict:
    """Hugging Face `datasets` feature descriptor for one metadata column
    (metadata_feature_value, src/main.rs:249-259)."""
    if isinstance(dt, T.BooleanType):
        return {"dtype": "bool", "_type": "Value"}
    if isinstance(dt, T.DoubleType):
        return {"dtype": "float64", "_type": "Value"}
    if isinstance(dt, T.ArrayType):
        return {"_type": "Sequence", "feature": hf_feature(dt.elementType)}
    return {"dtype": "string", "_type": "Value"}
