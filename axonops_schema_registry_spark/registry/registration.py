"""The registration pipeline (SURVEY.md §2.10) as one cogroup per subject.

Reference write path (/root/reference/internal/registry/registry.go:63-220 +
postgres/store.go:540-680): parse → canonicalize → fingerprint → dedup →
compatibility gate → version allocation → append.  The reference takes a
per-subject lock and runs that pipeline serially; the batch model keeps
the per-subject serial order and drops the lock — subjects are
independent, so they run in parallel, one group each.

Plan (lazy, one cogroup):
1. write modes and configured levels resolve onto the incoming rows with
   the broadcast joins of :mod:`registry.modes` — the block status and
   the level ride along as columns;
2. the existing corpus is cut to the batch's (ctx, subject) keys with a
   broadcast ``left_semi`` join, so Python sees only the histories of the
   subjects the batch writes to, never the rest of the corpus;
3. ``groupBy(keys).cogroup(...).applyInPandas`` runs the whole write path
   per subject, candidates in ``seq`` order (:func:`_register_subject`):
   block → fingerprint → dedup vs the live history → compatibility gate →
   version allocation.  A candidate identical to an earlier *accepted*
   candidate is a duplicate; identical to an earlier *rejected* one is
   re-checked (and rejected as incompatible, not duplicate) — both match
   sequential-server behavior.

Fingerprints are computed in-process for the batch's subjects only (a few
rows per subject), so no corpus-wide fingerprint pass and no cache is
needed.  Level NONE is the same path with the compatibility check
answering yes.  Per-group state is one subject's version history, which
is bounded.
"""

from __future__ import annotations

import hashlib
from collections import defaultdict

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from axonops_schema_registry_spark.registry.modes import (
    with_resolved_level,
    with_resolved_mode,
    write_block_status,
)
from axonops_schema_registry_spark.registry.spark_udfs import (
    canonical_fingerprint,
    ship_package,
)

def _reserved_set(metadata_json) -> set[str]:
    """'confluent:reserved' comma-list from a metadata JSON text
    (registry.go:1460-1481)."""
    import json as _json

    if not metadata_json or not isinstance(metadata_json, str):
        return set()
    try:
        props = (_json.loads(metadata_json) or {}).get("properties") or {}
    except ValueError:
        return set()
    val = props.get("confluent:reserved") or ""
    return {f.strip() for f in val.split(",") if f.strip()}


def _top_level_fields(schema_text: str, schema_type: str) -> set[str]:
    """Top-level field names only (HasTopLevelField,
    schema/types.go:31-35) — nested record/object fields don't count."""
    from axonops_schema_registry_spark.registry.fields import (
        extract_fields,
    )

    return {f["name"] for f in extract_fields(schema_text, schema_type)
            if "." not in (f["path"] or "")}


def _fingerprint(text, schema_type, native: bool):
    """Dedup identity: SHA-256 of the raw text for opaque content, else
    the strict canonical fingerprint (dedup must distinguish defaults)."""
    if text is None:
        return None
    if native:
        return hashlib.sha256(text.encode()).hexdigest()
    return canonical_fingerprint(text, schema_type, strict=True)


def _group_key(value):
    """Compatibility-group value as a dict key (NULL is one group)."""
    return None if pd.isna(value) else value


def _register_subject(ctx_col: str | None, native_fingerprint: bool,
                      grouped: bool, validate_fields: bool):
    """The serial write path for one (ctx, subject): candidates × history.

    ``cand`` holds the subject's batch rows with ``__block`` (the write-mode
    block status, NULL when writes are allowed) and ``__level`` (the
    resolved compatibility level); ``hist`` holds the subject's stored
    rows, soft-deleted ones included.  Per candidate, in ``seq`` order:

    1. a blocked row short-circuits with its block status;
    2. fingerprint (:func:`_fingerprint`);
    3. a fingerprint already live in the (group's) history, or accepted
       earlier in this batch, is a ``duplicate``;
    4. the compatibility check runs against the (group's) live history
       plus this batch's earlier acceptances.  With ``validate_fields``
       the reserved-field rules run next, on the candidate's RAW
       ``__metadata`` against the latest stored metadata
       (registry.go:175-180, 1483-1512): a reserved name colliding with a
       top-level schema field, or a previously reserved name dropped from
       the request, rejects the row as ``reserved_conflict`` (the
       reference's 409).  Stored metadata inherits from the previous
       version when a request carries none — AFTER validation, like
       maybeSetMetadataRuleSet;
    5. an accepted row gets ``max(version over ALL rows, deleted
       included) + running count`` — version numbers are never reused
       (store.go:553-557), and allocation stays per subject across
       compatibility groups.

    With ``grouped`` the dedup and the gate see only the history of the
    candidate's own ``__group`` (registry.go:1399-1431)."""

    def column(df: pd.DataFrame, name: str, present: bool = True) -> list:
        return df[name].tolist() if present else [None] * len(df)

    def register(cand: pd.DataFrame, hist: pd.DataFrame) -> pd.DataFrame:
        from axonops_schema_registry_spark.registry.compat import (
            check_compatibility,
        )

        # per gate group: [live texts oldest first, their fingerprints plus
        # this batch's accepted ones, latest stored metadata]
        state: dict = defaultdict(lambda: [[], set(), None])
        version = 0
        if len(hist):  # an empty cogroup side arrives without columns
            hist = hist.sort_values("version", kind="stable")
            version = int(hist["version"].max())
            live = hist[hist["deleted"].eq(False)]
            for text, stype, group, meta in zip(
                    column(live, "schema_text"), column(live, "schema_type"),
                    column(live, "__group", grouped),
                    column(live, "__metadata", validate_fields)):
                g = state[_group_key(group)]
                g[0].append(text)
                g[1].add(_fingerprint(text, stype, native_fingerprint))
                g[2] = meta

        cand = cand.sort_values("seq", kind="stable")
        status, assigned, n_issues = [], [], []
        for block, level, text, stype, group, meta in zip(
                column(cand, "__block"), column(cand, "__level"),
                column(cand, "schema_text"), column(cand, "schema_type"),
                column(cand, "__group", grouped),
                column(cand, "__metadata", validate_fields)):
            verdict, issues = block or "registered", 0
            if block is None:
                g = state[_group_key(group)]
                fp = _fingerprint(text, stype, native_fingerprint)
                if fp in g[1]:
                    verdict = "duplicate"
                else:
                    ok, msgs = check_compatibility(text, g[0], level, stype)
                    if not ok:
                        verdict, issues = "incompatible", len(msgs)
                    elif validate_fields:
                        reserved = _reserved_set(meta)
                        issues = len(_reserved_set(g[2]) - reserved)
                        issues += len(reserved & _top_level_fields(text,
                                                                   stype))
                        if issues:
                            verdict = "reserved_conflict"
                        elif meta is not None:
                            g[2] = meta
                if verdict == "registered":
                    g[0].append(text)
                    g[1].add(fp)
                    version += 1
            status.append(verdict)
            assigned.append(version if verdict == "registered" else None)
            n_issues.append(issues)
        out = cand[([ctx_col] if ctx_col else []) + ["subject", "seq"]]
        return out.assign(status=status,
                          assigned_version=pd.array(assigned, dtype="Int32"),
                          n_issues=n_issues)

    return register


def register_batch(spark: SparkSession, existing: DataFrame,
                   incoming: DataFrame, mode: str = "BACKWARD",
                   native_fingerprint: bool = False,
                   modes: DataFrame | None = None,
                   levels: DataFrame | None = None,
                   group_col: str | None = None,
                   ctx_col: str | None = None,
                   metadata_col: str | None = None,
                   validate_fields: bool = False) -> DataFrame:
    """Process a registration batch.

    ``existing``: (subject, version, schema_type, schema_text[, deleted])
    current corpus.  ``incoming``: (subject, seq, schema_type,
    schema_text) where ``seq`` is the deterministic batch order.

    ``modes``: optional (subject nullable, mode) write-mode table
    (storage.go:144-147); rows whose resolved mode blocks normal
    registration short-circuit with status ``readonly_mode``
    (READONLY/READONLY_OVERRIDE → the 42205 error) or ``import_mode``
    (IMPORT requires explicit IDs → import_batch), before any
    fingerprint/compat work — mirroring CheckModeForWrite running ahead
    of the write path (registry_helpers.go:14, handlers.go:605-660).

    ``levels``: optional configured-compatibility table — per subject
    the gate uses subject level → global row → ``mode`` default, the
    reference's GetConfigFull chain (registry.go:706-776;
    j6_config_fallback is the read-side twin).  With ``ctx_col`` set and
    a (registry_ctx, subject, level) table, the FULL 4-tier chain
    applies: per-(ctx, subject) → ctx global → __GLOBAL context global
    → ``mode``.  Broadcast joins only; the gate reads the resolved level
    per row.

    ``native_fingerprint``: dedup on SHA-256 of the raw text instead of
    the strict canonical form — for opaque (RAW) content.

    ``ctx_col``: multi-tenant context column present in BOTH ``existing``
    and ``incoming`` (the reference scopes every registry operation by
    context, registrycontext): dedup, the compat gate, and version
    allocation all key on (ctx, subject) — histories in other contexts
    are invisible.

    ``group_col``: compatibility-group column name present in BOTH
    ``existing`` and ``incoming`` (the metadata property the subject's
    ``compatibilityGroup`` config names, registry.go:1399-1431): the
    gate and the duplicate check scope to (subject, group) — history in
    other groups is invisible, exactly the reference's filter — while
    version allocation stays per subject (store.go:553-557).

    ``metadata_col`` + ``validate_fields``: the reserved-field rules on
    the request metadata (see :func:`_register_subject`); the column must
    be present in BOTH frames.

    Soft-delete lifecycle (postgres/store.go:617-625,
    delete_and_reregister.feature): DEDUP and the COMPAT HISTORY consider
    only live rows — a schema whose fingerprint exists solely on deleted
    rows re-registers — but VERSION allocation takes MAX(version) over ALL
    rows including deleted ones (store.go:553-557), so version numbers are
    never reused.

    Returns ([ctx,] subject, seq, status, assigned_version, n_issues) with
    status ∈ {registered, duplicate, incompatible, reserved_conflict,
    readonly_mode, import_mode}; ``seq`` keeps the incoming column's type.
    """
    ship_package(spark)
    mode = (mode or "BACKWARD").upper()
    keys = ([ctx_col] if ctx_col else []) + ["subject"]
    vf = validate_fields and metadata_col is not None
    extra = (([F.col(group_col).alias("__group")] if group_col else [])
             + ([F.col(metadata_col).alias("__metadata")] if vf else []))

    # duplicates are harmless on the build side of a semi join
    batch_keys = incoming.select(*keys)
    if modes is not None:
        incoming = with_resolved_mode(incoming, modes, ctx_col=ctx_col) \
            .withColumn("__block", write_block_status())
    else:
        incoming = incoming.withColumn("__block", F.lit(None).cast("string"))
    if levels is not None:
        incoming = with_resolved_level(incoming, levels, ctx_col=ctx_col,
                                       default=mode) \
            .withColumnRenamed("resolved_level", "__level")
    else:
        incoming = incoming.withColumn("__level", F.lit(mode))
    cand = incoming.select(*keys, "seq", "schema_type", "schema_text",
                           "__block", "__level", *extra)

    if "deleted" not in existing.columns:
        existing = existing.withColumn("deleted", F.lit(False))
    hist = (existing.join(F.broadcast(batch_keys), keys, "left_semi")
            .select(*keys, "version", "schema_type", "schema_text",
                    "deleted", *extra))

    ctx_ddl = f"{ctx_col} string, " if ctx_col else ""
    seq_ddl = incoming.schema["seq"].dataType.simpleString()
    out_ddl = (f"{ctx_ddl}subject string, seq {seq_ddl}, status string, "
               "assigned_version int, n_issues int")
    return (cand.groupBy(*keys)
            .cogroup(hist.groupBy(*keys))
            .applyInPandas(_register_subject(
                ctx_col, native_fingerprint, group_col is not None, vf),
                out_ddl))


def import_batch(spark: SparkSession, existing: DataFrame,
                 incoming: DataFrame,
                 modes: DataFrame | None = None) -> DataFrame:
    """S9 bulk import with explicit IDs + conflict detection
    (/root/reference/internal/registry/registry.go:1184-1309).

    ``existing``: (schema_id, fingerprint); ``incoming``: (schema_id,
    subject, fingerprint).  Status per incoming row:
    - ``imported``  — id unknown, claim it;
    - ``exists``    — id known with the SAME fingerprint (idempotent);
    - ``conflict``  — id known with a DIFFERENT fingerprint (the
      reference's 409/42201 import conflict);
    - ``not_import_mode`` — when a ``modes`` table is given and the
      subject's resolved mode is not IMPORT (explicit-ID import REQUIRES
      IMPORT mode, handlers.go:1656-1664).
    """
    if modes is not None:
        incoming = with_resolved_mode(incoming, modes)
    # No broadcast hint: ``existing`` is the full corpus (the BIG side at
    # scale) — the shuffle keys on schema_id and AQE picks broadcast when
    # the batch actually is small.
    ex = existing.select(F.col("schema_id"),
                         F.col("fingerprint").alias("existing_fp"))
    joined = incoming.join(ex, "schema_id", "left")
    status = (F.when(F.col("existing_fp").isNull(), "imported")
               .when(F.col("existing_fp") == F.col("fingerprint"), "exists")
               .otherwise("conflict"))
    if modes is not None:
        status = F.when(F.col("resolved_mode") != "IMPORT",
                        "not_import_mode").otherwise(status)
    return joined.select("schema_id", "subject", "fingerprint",
                         status.alias("status"))


def version_delete_status(corpus: DataFrame,
                          requests: DataFrame) -> DataFrame:
    """Version-level delete taxonomy (DELETE /subjects/{s}/versions/{v},
    handlers.go:880-935, registry.go:623-676): version ids must be in
    [1, 2^31-1] or the sentinel ``latest``/-1 (42202 otherwise, parsed
    BEFORE any storage access); soft delete resolves ``latest`` against
    LIVE versions and rejects already-deleted or unknown versions with
    40402 (GetSchemaBySubjectVersion filters deleted rows); permanent
    delete resolves ``latest`` against SOFT-DELETED versions, requires
    the version be soft-deleted first (40407 —
    ErrorCodeVersionNotSoftDeleted, types.go:176; 40405 is the
    SUBJECT-level sibling), and unknown subjects are
    40401.  Successful deletes report the RESOLVED version number.

    ``corpus``: (subject, version, deleted, ...);
    ``requests``: (subject, version, permanent).
    """
    per_subj = corpus.groupBy("subject").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.max(F.when(~F.col("deleted"), F.col("version"))).alias("max_live"),
        F.max(F.when(F.col("deleted"), F.col("version")))
        .alias("max_deleted"))
    req = requests.join(F.broadcast(per_subj), "subject", "left")
    resolved = F.when(
        F.col("version") == -1,
        F.when(F.col("permanent"), F.col("max_deleted"))
         .otherwise(F.col("max_live"))).otherwise(F.col("version"))
    req = req.withColumn("resolved_version", resolved)
    ver = corpus.select("subject",
                        F.col("version").alias("resolved_version"),
                        F.col("deleted").alias("ver_deleted"))
    j = req.join(ver, ["subject", "resolved_version"], "left")
    status = (
        F.when((F.col("version") < -1) | (F.col("version") == 0),
               "invalid_version_42202")
        .when(F.col("n_total").isNull(), "subject_not_found_40401")
        # 'latest' soft delete on a subject whose versions are ALL
        # soft-deleted: GetSchemaBySubjectVersion(-1) sees no live rows
        # and reports the SUBJECT as missing (memory/store.go
        # GetLatestSchema path → ErrSubjectNotFound, 40401), not 40402
        .when((F.col("version") == -1) & ~F.col("permanent")
              & F.col("max_live").isNull(), "subject_not_found_40401")
        .when(F.col("ver_deleted").isNull(), "version_not_found_40402")
        .when(~F.col("permanent") & ~F.col("ver_deleted"),
              "soft_deleted_200")
        .when(~F.col("permanent"), "version_not_found_40402")
        .when(F.col("ver_deleted"), "permanently_deleted_200")
        .otherwise("not_soft_deleted_40407"))
    return j.select(
        "subject", "version", "permanent", status.alias("status"),
        F.when(status.endswith("_200"), F.col("resolved_version"))
         .cast("int").alias("resolved_version"))
