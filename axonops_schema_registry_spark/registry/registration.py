"""The registration pipeline (SURVEY.md §2.10): the per-subject serial
write path, run on the driver for a small batch and as one cogroup per
subject above ``REGISTER_ROW_CAP``.

Reference write path (/root/reference/internal/registry/registry.go:63-220 +
postgres/store.go:540-680): parse → canonicalize → fingerprint → dedup →
compatibility gate → version allocation → append.  The reference takes a
per-subject lock and runs that pipeline serially; the batch model keeps
the per-subject serial order and drops the lock — subjects are
independent, so each one is a group of its own.

:func:`_write_path` runs the whole write path for one subject,
candidates in ``seq`` order: block → fingerprint → dedup vs the live
history → compatibility gate → version allocation.  A candidate identical
to an earlier *accepted* candidate is a duplicate; identical to an
earlier *rejected* one is re-checked (and rejected as incompatible, not
duplicate) — both match sequential-server behavior.  Two dispatchers feed
it the same rows, and each input is read once:

- **in-process** (a batch and its subjects' histories of at most
  ``REGISTER_ROW_CAP`` rows each): one Arrow collect of the batch, one of
  the stored rows of its subjects (a literal ``isin`` filter the parquet
  scan can push down, so the batch is not evaluated again), and one
  collect per config table (:func:`registry.modes.resolve_mode` /
  ``resolve_level``, looked up per row on the driver).  The groups run in
  the driver process and the result is an Arrow-built DataFrame, so
  ``register_batch`` is eager on this path: its Spark jobs run when it is
  called, and collecting the result runs none.
- **cogroup** (above the cap): a lazy plan once each config table is
  read (one collect each).  The write modes and levels resolve onto the
  incoming rows as one broadcast join each
  (:func:`registry.modes.with_resolved_mode` / ``with_resolved_level``);
  the corpus is cut to the batch's (ctx, subject) keys with a broadcast
  ``left_semi`` join; ``groupBy(keys).cogroup(...).applyInPandas`` runs
  the write path per subject in Python workers.  It is also the oracle
  of the in-process path (``tests/test_registration_oracle.py``).

Fingerprints are computed for the batch's subjects only (a few rows per
subject), so no corpus-wide fingerprint pass and no cache is needed.
Level NONE is the same path with the compatibility check answering yes.
Per-group state is one subject's version history, which is bounded.
"""

from __future__ import annotations

import hashlib
from collections import defaultdict
from functools import partial

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from axonops_schema_registry_spark.registry.modes import (
    BLOCK_STATUS,
    resolve_level,
    resolve_mode,
    with_resolved_level,
    with_resolved_mode,
    write_block_status,
)
from axonops_schema_registry_spark.registry.spark_udfs import (
    canonical_fingerprint,
    ship_package,
)

# The in-process path holds the batch and its subjects' stored histories
# in driver memory: every schema text (a few KB each) of each.  At 20,000
# rows a side that is on the order of 100 MB of driver heap, the bound
# the read snapshot keeps too (``RegistryAnalytics.SNAPSHOT_ROW_CAP``); a
# larger batch or history runs the cogroup.
REGISTER_ROW_CAP = 20_000

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


def _write_path(cand: list[tuple], hist: list[tuple],
                native_fingerprint: bool,
                validate_fields: bool) -> tuple[list, list, list]:
    """The serial write path for one (ctx, subject): candidates × history.

    ``cand`` holds the subject's batch rows in ``seq`` order as (block,
    level, schema_text, schema_type, group, metadata): ``block`` is the
    write-mode block status (None when writes are allowed), ``level`` the
    resolved compatibility level.  ``hist`` holds the subject's stored
    rows, soft-deleted ones included, in ``version`` order as (version,
    deleted, schema_text, schema_type, group, metadata).  Per candidate:

    1. a blocked row short-circuits with its block status;
    2. fingerprint (:func:`_fingerprint`);
    3. a fingerprint already live in the (group's) history, or accepted
       earlier in this batch, is a ``duplicate``;
    4. the compatibility check runs against the (group's) live history
       plus this batch's earlier acceptances.  With ``validate_fields``
       the reserved-field rules run next, on the candidate's RAW
       metadata against the latest stored metadata
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

    Groups are None unless the batch has a compatibility-group column:
    then the dedup and the gate see only the history of the candidate's
    own group (registry.go:1399-1431).  Returns the status, the assigned
    version and the issue count per candidate."""
    from axonops_schema_registry_spark.registry.compat import (
        check_compatibility,
    )

    # per gate group: [live texts oldest first, their fingerprints plus
    # this batch's accepted ones, latest stored metadata]
    state: dict = defaultdict(lambda: [[], set(), None])
    version = int(max((r[0] for r in hist if pd.notna(r[0])), default=0))
    for _, deleted, text, stype, group, meta in hist:
        if deleted is None or deleted:
            continue
        g = state[_group_key(group)]
        g[0].append(text)
        g[1].add(_fingerprint(text, stype, native_fingerprint))
        g[2] = meta

    status, assigned, n_issues = [], [], []
    for block, level, text, stype, group, meta in cand:
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
                    issues += len(reserved & _top_level_fields(text, stype))
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
    return status, assigned, n_issues


CAND_COLUMNS = ("__block", "__level", "schema_text", "schema_type",
                "__group", "__metadata")
HIST_COLUMNS = ("version", "deleted", "schema_text", "schema_type",
                "__group", "__metadata")


def _register_subject(ctx_col: str | None, write):
    """:func:`_write_path` as the cogroup's function: one (ctx, subject)'s
    candidate and history frames in, its result frame out.  A column the
    frames lack (``__group``, ``__metadata``) reads as None."""

    def rows(df: pd.DataFrame, names: tuple) -> list[tuple]:
        return list(zip(*(df[n].tolist() if n in df.columns
                          else [None] * len(df) for n in names)))

    def register(cand: pd.DataFrame, hist: pd.DataFrame) -> pd.DataFrame:
        if len(hist):  # an empty cogroup side arrives without columns
            hist = hist.sort_values("version", kind="stable")
        cand = cand.sort_values("seq", kind="stable")
        status, assigned, n_issues = write(rows(cand, CAND_COLUMNS),
                                           rows(hist, HIST_COLUMNS))
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
    → ``mode``.  Each config table is read once; the gate reads the
    resolved level per row.

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
    the request metadata (see :func:`_write_path`); the column must
    be present in BOTH frames.

    Soft-delete lifecycle (postgres/store.go:617-625,
    delete_and_reregister.feature): DEDUP and the COMPAT HISTORY consider
    only live rows — a schema whose fingerprint exists solely on deleted
    rows re-registers — but VERSION allocation takes MAX(version) over ALL
    rows including deleted ones (store.go:553-557), so version numbers are
    never reused.

    Returns ([ctx,] subject, seq, status, assigned_version, n_issues) with
    status ∈ {registered, duplicate, incompatible, reserved_conflict,
    readonly_mode, import_mode}; ``seq`` keeps the incoming column's type
    and every column is nullable.  A batch and a subject history of at
    most ``REGISTER_ROW_CAP`` rows each run in-process and eagerly (the
    Spark jobs that read the inputs run here); a larger one returns the
    lazy cogroup plan.
    """
    mode = (mode or "BACKWARD").upper()
    keys = ([ctx_col] if ctx_col else []) + ["subject"]
    vf = validate_fields and metadata_col is not None
    extra = (([F.col(group_col).alias("__group")] if group_col else [])
             + ([F.col(metadata_col).alias("__metadata")] if vf else []))
    cand = incoming.select(*keys, "seq", "schema_type", "schema_text",
                           *extra)
    if "deleted" not in existing.columns:
        existing = existing.withColumn("deleted", F.lit(False))
    hist = existing.select(*keys, "version", "schema_type", "schema_text",
                           "deleted", *extra)
    out_schema = StructType(
        [StructField(k, StringType()) for k in keys]
        + [StructField("seq", incoming.schema["seq"].dataType),
           StructField("status", StringType()),
           StructField("assigned_version", IntegerType()),
           StructField("n_issues", IntegerType())])
    write = partial(_write_path, native_fingerprint=native_fingerprint,
                    validate_fields=vf)

    batch = cand.limit(REGISTER_ROW_CAP + 1).toArrow()
    if batch.num_rows <= REGISTER_ROW_CAP:
        subjects = sorted(set(batch.column("subject").to_pylist()) - {None})
        stored = (hist.filter(F.col("subject").isin(subjects))
                  .limit(REGISTER_ROW_CAP + 1).toArrow() if subjects
                  else None)
        if stored is None or stored.num_rows <= REGISTER_ROW_CAP:
            return _register_in_process(
                spark, batch, stored, keys, mode, modes, levels, ctx_col,
                write, out_schema)
    return _register_cogroup(spark, cand, hist, keys, mode, modes, levels,
                             ctx_col, write, out_schema)


def _nulls_last(value) -> tuple:
    """Sort key of pandas' stable ascending sort: nulls last."""
    return (value is None, 0 if value is None else value)


def _register_in_process(spark: SparkSession, batch: pa.Table,
                         stored: pa.Table | None, keys: list[str],
                         mode: str, modes: DataFrame | None,
                         levels: DataFrame | None, ctx_col: str | None,
                         write, out_schema: StructType) -> DataFrame:
    """The per-subject write path over collected rows, on the driver: the
    groups and orders the cogroup gives it, without Spark or pandas."""
    n = batch.num_rows
    cols = batch.to_pydict()
    subjects = cols["subject"]
    ctxs = cols[ctx_col] if ctx_col else [None] * n
    block, level = [None] * n, [mode] * n
    if modes is not None:
        res = resolve_mode(modes, ctx_col)
        block = [BLOCK_STATUS.get(res.get(s, c))
                 for s, c in zip(subjects, ctxs)]
    if levels is not None:
        res = resolve_level(levels, ctx_col, default=mode)
        level = [res.get(s, c) for s, c in zip(subjects, ctxs)]
    cols.update(__block=block, __level=level)
    cand = list(zip(*(cols.get(c, [None] * n) for c in CAND_COLUMNS)))

    # the batch's NULL keys form one group (as in the cogroup); a NULL key
    # matches no stored row (as in the semi join)
    groups: dict = defaultdict(list)
    for i, key in enumerate(zip(*(cols[k] for k in keys))):
        groups[key].append(i)
    histories: dict = defaultdict(list)
    if stored is not None:
        m, h = stored.num_rows, stored.to_pydict()
        for key, row in zip(zip(*(h[k] for k in keys)),
                            zip(*(h.get(c, [None] * m)
                                  for c in HIST_COLUMNS))):
            if None not in key:
                histories[key].append(row)

    status, assigned, n_issues = [None] * n, [None] * n, [0] * n
    seq = cols["seq"]
    for key, idx in groups.items():
        idx.sort(key=lambda i: _nulls_last(seq[i]))
        hist = sorted(histories.get(key, ()), key=lambda r: _nulls_last(r[0]))
        for i, *verdict in zip(idx, *write([cand[i] for i in idx], hist)):
            status[i], assigned[i], n_issues[i] = verdict
    arrow = to_arrow_schema(out_schema)
    table = pa.Table.from_arrays(
        [batch.column(c) for c in keys + ["seq"]]
        + [pa.array(status, pa.string()), pa.array(assigned, pa.int32()),
           pa.array(n_issues, pa.int32())],
        names=arrow.names).cast(arrow)
    return spark.createDataFrame(table, schema=out_schema)


def _register_cogroup(spark: SparkSession, cand: DataFrame,
                      hist: DataFrame, keys: list[str], mode: str,
                      modes: DataFrame | None, levels: DataFrame | None,
                      ctx_col: str | None, write,
                      out_schema: StructType) -> DataFrame:
    """The per-subject write path as one lazy cogroup per (ctx, subject)
    over the batch and the histories of its keys."""
    ship_package(spark)
    # duplicates are harmless on the build side of a semi join
    hist = hist.join(F.broadcast(cand.select(*keys)), keys, "left_semi")
    columns = cand.columns
    if modes is not None:
        cand = with_resolved_mode(cand, modes, ctx_col=ctx_col) \
            .withColumn("__block", write_block_status())
    else:
        cand = cand.withColumn("__block", F.lit(None).cast("string"))
    if levels is not None:
        cand = with_resolved_level(cand, levels, ctx_col=ctx_col,
                                   default=mode) \
            .withColumnRenamed("resolved_level", "__level")
    else:
        cand = cand.withColumn("__level", F.lit(mode))
    return (cand.select(*columns, "__block", "__level")
            .groupBy(*keys)
            .cogroup(hist.groupBy(*keys))
            .applyInPandas(_register_subject(ctx_col, write), out_schema))


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
