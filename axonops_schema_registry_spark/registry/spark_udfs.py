"""Arrow-batched pandas UDFs surfacing the registry domain library to Spark.

UDFs are the slow path by design (SURVEY.md §4): everything relational
stays in Catalyst; only the genuinely non-relational cores — schema
canonicalization (F11-F12), fingerprinting (F10), field extraction (F13),
compatibility recursion (C1-C3) — cross into Python, and then via Arrow
batches, never row-at-a-time.

``ship_package`` zips this package and ``addPyFile``s it so executor
Python workers can import the domain modules regardless of how the driver
process was launched (works under any SparkSession, including the test
driver's vanilla one).
"""

from __future__ import annotations

import hashlib
import json
import os
import tempfile
import zipfile

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

_PKG_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_SHIPPED: set[str] = set()

FIELD_STRUCT_DDL = (
    "array<struct<name:string,path:string,type:string,required:boolean,"
    "has_default:boolean,doc:string>>")
CHECK_STRUCT_DDL = "struct<is_compatible:boolean,messages:array<string>>"


def ship_package(spark: SparkSession) -> None:
    """Make ``axonops_schema_registry_spark`` importable on executors."""
    key = spark.sparkContext.applicationId  # stable per context, GC-proof
    if key in _SHIPPED:
        return
    zip_path = os.path.join(tempfile.gettempdir(),
                            "axonops_schema_registry_spark.zip")
    root = os.path.dirname(_PKG_DIR)
    with zipfile.ZipFile(zip_path, "w") as zf:
        for dirpath, _dirnames, filenames in os.walk(_PKG_DIR):
            for fn in filenames:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    zf.write(full, os.path.relpath(full, root))
    spark.sparkContext.addPyFile(zip_path)
    _SHIPPED.add(key)


def canonical_fingerprint(schema_text: str, schema_type: str = "AVRO",
                          strict: bool = False) -> str:
    """Canonical-form SHA-256 fingerprint, per schema language (F10-F12).

    ``strict=False`` → Avro Parsing Canonical Form: the content-address
    identity (resolution semantics only — PCF strips docs AND defaults).
    ``strict=True``  → sorted-keys canonical JSON of the full document:
    the registration-dedup identity.  The distinction matters: two Avro
    schemas differing only in a field default share a PCF fingerprint but
    are NOT interchangeable for compatibility, so dedup-before-compat-gate
    must use the strict form (cf. dedup w/ metadata equality,
    /root/reference/internal/registry/registry.go:121-131).
    """
    from axonops_schema_registry_spark.registry.avro import avro_fingerprint

    st = (schema_type or "AVRO").upper()
    try:
        if st in ("AVRO", "JSON"):
            if st == "AVRO" and not strict:
                return avro_fingerprint(schema_text)
            canonical = json.dumps(json.loads(schema_text), sort_keys=True,
                                   separators=(",", ":"), ensure_ascii=False)
            return hashlib.sha256(canonical.encode()).hexdigest()
        if st == "PROTOBUF":
            # canonical proto text: strip comments, collapse whitespace —
            # formatting-invariant like the JSON/Avro canonical forms
            import re

            stripped = re.sub(r"//[^\n]*|/\*.*?\*/", " ", schema_text,
                              flags=re.DOTALL)
            canonical = re.sub(r"\s+", " ", stripped).strip()
            return hashlib.sha256(canonical.encode()).hexdigest()
    except Exception:
        pass
    # unparseable / unknown type: fingerprint of the raw text
    return hashlib.sha256(schema_text.encode()).hexdigest()


def extract_fields_udf():
    @F.pandas_udf(FIELD_STRUCT_DDL)
    def _fields(text: pd.Series, stype: pd.Series) -> pd.Series:
        from axonops_schema_registry_spark.registry.fields import extract_fields

        return pd.Series([extract_fields(t, s) for t, s in zip(text, stype)])

    return _fields


def check_pair_with_refs_udf():
    """Pairwise check with cross-subject reference resolution: the ref
    columns carry arrays of referenced-schema texts (Avro named types),
    pre-joined from the schema_references table."""

    @F.pandas_udf(CHECK_STRUCT_DDL)
    def _check(reader: pd.Series, writer: pd.Series, stype: pd.Series,
               reader_refs: pd.Series, writer_refs: pd.Series) -> pd.DataFrame:
        from axonops_schema_registry_spark.registry.compat import check_pair

        out = []
        for r, w, s, rr, wr in zip(reader, writer, stype, reader_refs,
                                   writer_refs):
            msgs = check_pair(r, w, s,
                              tuple(rr) if rr is not None else (),
                              tuple(wr) if wr is not None else ())
            out.append({"is_compatible": not msgs, "messages": msgs})
        return pd.DataFrame(out)

    return _check


def check_pair_udf():
    @F.pandas_udf(CHECK_STRUCT_DDL)
    def _check(reader: pd.Series, writer: pd.Series,
               stype: pd.Series) -> pd.DataFrame:
        from axonops_schema_registry_spark.registry.compat import check_pair

        out = []
        for r, w, s in zip(reader, writer, stype):
            msgs = check_pair(r, w, s)
            out.append({"is_compatible": not msgs, "messages": msgs})
        return pd.DataFrame(out)

    return _check

EVOLVE_STRUCT_DDL = ("struct<advice:string,snippet:string,"
                     "is_compatible:boolean,n_issues:int>")
VALIDATE_STRUCT_DDL = ("struct<is_valid:boolean,error:string,"
                       "canonical:string,fingerprint:string>")


def suggest_evolution_udf():
    """SuggestSchemaEvolution/SuggestCompatibleChange advisory core
    (analysis.go:875-983, 1105-1139; tools_intelligence.go:579-710)."""

    @F.pandas_udf(EVOLVE_STRUCT_DDL)
    def _suggest(schema_text: pd.Series, schema_type: pd.Series,
                 level: pd.Series, change_type: pd.Series,
                 field_name: pd.Series, field_type: pd.Series,
                 enum_symbol: pd.Series) -> pd.DataFrame:
        from axonops_schema_registry_spark.registry.evolution import (
            suggest_and_verify,
        )

        return pd.DataFrame([
            suggest_and_verify(tx, st, lv, ct, fn or "", ft or "", es or "")
            for tx, st, lv, ct, fn, ft, es in zip(
                schema_text, schema_type, level, change_type, field_name,
                field_type, enum_symbol)])

    return _suggest


def validate_normalize_udf():
    """ValidateSchema/NormalizeSchema core (analysis.go:19-86)."""

    @F.pandas_udf(VALIDATE_STRUCT_DDL)
    def _validate(schema_text: pd.Series,
                  schema_type: pd.Series) -> pd.DataFrame:
        from axonops_schema_registry_spark.registry.evolution import (
            validate_and_normalize,
        )

        return pd.DataFrame([validate_and_normalize(tx, st)
                             for tx, st in zip(schema_text, schema_type)])

    return _validate
