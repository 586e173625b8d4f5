"""Write-mode gating (READWRITE / READONLY / READONLY_OVERRIDE / IMPORT)
and the configured-compatibility level chain.

Re-expresses the reference's mode dimension and write gate
(/root/reference/internal/storage/storage.go:144-147 ModeRecord,
/root/reference/internal/registry/registry_helpers.go:14-23
CheckModeForWrite, registry.go:889-930 GetMode fallback chain,
api/handlers/handlers.go:605-660 registration gating):

- a ``modes`` table of (subject, mode) rows where ``subject IS NULL``
  carries the global mode (ModeRecord's "empty for global" convention);
- resolution per subject: READONLY_OVERRIDE on the global row is a kill
  switch that beats per-subject modes; otherwise per-subject → global →
  READWRITE default;
- normal registration is blocked by READONLY/READONLY_OVERRIDE
  (status ``readonly_mode``, the 42205 error) and by IMPORT (status
  ``import_mode`` — explicit-ID import is the only write IMPORT allows);
- bulk import with explicit IDs REQUIRES IMPORT mode (status
  ``not_import_mode`` otherwise, handlers.go:1656-1664).

Each chain is resolved once, on the driver (:func:`resolve_mode`,
:func:`resolve_level`): the config table is configuration-sized, so it is
read with one collect and folded into a :class:`Resolution` — the value
per exact key, the per-context fallbacks and the last fallback.  Several
rows for one key (or one global row) resolve to their ``max``.  The
in-process write path looks rows up in it; :func:`with_resolved_mode` and
:func:`with_resolved_level` attach it to a DataFrame as one broadcast
join of the resolved per-key rows (an Arrow-built local relation) plus
literal fallbacks — no aggregate, no shuffle of either side.
"""

from __future__ import annotations

from typing import NamedTuple

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StringType, StructField, StructType

MODES = ("READWRITE", "READONLY", "READONLY_OVERRIDE", "IMPORT")

# the status a resolved mode gives a NORMAL registration (no explicit ID);
# modes not listed allow the write
BLOCK_STATUS = {"READONLY": "readonly_mode",
                "READONLY_OVERRIDE": "readonly_mode",
                "IMPORT": "import_mode"}

DEFAULT_CONTEXT = "."
GLOBAL_CONTEXT = "__GLOBAL"

KILL_SWITCH = "READONLY_OVERRIDE"


class Resolution(NamedTuple):
    """One resolved fallback chain.

    ``exact`` maps a key — ``subject``, or ``(ctx, subject)`` for the
    context chain (``ctx``) — to its configured value; ``by_ctx`` maps a
    context to its context-global value; ``fallback`` is what every
    other key resolves to."""

    ctx: bool
    exact: dict
    by_ctx: dict
    fallback: str | None

    def get(self, subject, ctx=None) -> str | None:
        if not self.ctx:
            return self.exact.get(subject, self.fallback)
        value = self.exact.get((ctx, subject))
        if value is None:
            value = self.by_ctx.get(ctx)
        return self.fallback if value is None else value


def _top(rows, pred):
    """``max`` of the non-null values of the (ctx, subject, value) rows
    matching ``pred``; None when there are none."""
    return max((v for c, s, v in rows if v is not None and pred(c, s)),
               default=None)


def _per_key(rows, key):
    """{key(ctx, subject): max value} over the rows with a non-null value
    whose key is not None."""
    out: dict = {}
    for c, s, v in rows:
        k = key(c, s)
        if v is not None and k is not None and (k not in out or v > out[k]):
            out[k] = v
    return out


def _resolve(table: DataFrame, value_col: str, ctx: bool, kill: bool,
             default: str | None) -> Resolution:
    """The fallback chain over one collect of ``table``.

    Without ``ctx``: per-subject → global row (subject NULL) → default.
    With ``ctx``: per-(ctx, subject) → ctx global → __GLOBAL context
    global → default.  With ``kill``, READONLY_OVERRIDE as the global
    value (with ``ctx``: the default context's, else __GLOBAL's,
    registry.go:933-960) resolves every key to READONLY_OVERRIDE."""
    rows = [tuple(r) for r in table.select(
        F.col("registry_ctx") if ctx else F.lit(None).cast("string"),
        "subject", value_col).collect()]
    if not ctx:
        glob = _top(rows, lambda c, s: s is None)
        if kill and glob == KILL_SWITCH:
            return Resolution(False, {}, {}, KILL_SWITCH)
        return Resolution(False, _per_key(rows, lambda c, s: s), {},
                          glob or default)
    global_glob = _top(rows, lambda c, s: s is None and c == GLOBAL_CONTEXT)
    default_glob = _top(rows,
                        lambda c, s: s is None and c == DEFAULT_CONTEXT)
    if kill and (default_glob or global_glob) == KILL_SWITCH:
        return Resolution(True, {}, {}, KILL_SWITCH)
    # a NULL key part never matches, as in a join
    return Resolution(
        True,
        _per_key(rows, lambda c, s: None if None in (c, s) else (c, s)),
        _per_key(rows, lambda c, s: c if s is None and c != GLOBAL_CONTEXT
                 else None),
        global_glob or default)


def _has_ctx(table: DataFrame, ctx_col: str | None) -> bool:
    return ctx_col is not None and "registry_ctx" in table.columns


def resolve_mode(modes: DataFrame,
                 ctx_col: str | None = None) -> Resolution:
    """The write-mode chain: the kill switch, then per key → (ctx
    global →) global → READWRITE.  The reference's 4-tier chain
    (registry.go:889-930) applies when ``ctx_col`` is given and ``modes``
    is a (registry_ctx, subject, mode) table."""
    return _resolve(modes, "mode", _has_ctx(modes, ctx_col), kill=True,
                    default="READWRITE")


def resolve_level(levels: DataFrame, ctx_col: str | None = None,
                  default: str = "BACKWARD") -> Resolution:
    """The compatibility-level chain (GetConfigFull, registry.go:706-776):
    per key → (ctx global →) global → ``default``, upper-cased; the
    context tiers apply as in :func:`resolve_mode`.  Unlike modes there
    is NO kill switch — levels only fall through."""
    res = _resolve(levels, "level", _has_ctx(levels, ctx_col), kill=False,
                   default=default)
    return Resolution(res.ctx,
                      {k: v.upper() for k, v in res.exact.items()},
                      {k: v.upper() for k, v in res.by_ctx.items()},
                      res.fallback and res.fallback.upper())


def _attach(df: DataFrame, res: Resolution, subject_col: str,
            ctx_col: str | None, out_col: str) -> DataFrame:
    """``df`` plus ``out_col`` = ``res`` looked up per row: one broadcast
    left join of the exact keys, then the literal fallbacks."""
    keys = ([ctx_col] if res.ctx else []) + [subject_col]
    schema = StructType([StructField(k, StringType()) for k in keys]
                        + [StructField("__resolved", StringType())])
    items = sorted(res.exact.items())
    cols = ([[k[0] for k, _ in items], [k[1] for k, _ in items]] if res.ctx
            else [[k for k, _ in items]]) + [[v for _, v in items]]
    resolved = df.sparkSession.createDataFrame(
        pa.table(cols, schema=to_arrow_schema(schema)), schema=schema)
    value = F.col("__resolved")
    if res.by_ctx:
        by_ctx = F.create_map(*[F.lit(x) for kv in sorted(res.by_ctx.items())
                                for x in kv])
        value = F.coalesce(value, F.element_at(by_ctx, F.col(ctx_col)))
    return (df.join(F.broadcast(resolved), keys, "left")
              .withColumn(out_col, F.coalesce(value, F.lit(res.fallback)))
              .drop("__resolved"))


def with_resolved_mode(df: DataFrame, modes: DataFrame,
                       subject_col: str = "subject",
                       ctx_col: str | None = None) -> DataFrame:
    """Attach ``resolved_mode`` to ``df`` per the fallback chain.

    Two shapes:

    - ``modes`` = (subject nullable, mode): 3-tier chain — kill switch →
      per-subject → global row → READWRITE.
    - ``modes`` = (registry_ctx, subject nullable, mode) AND ``ctx_col``
      given: the reference's full 4-tier chain (registry.go:889-930) —
      READONLY_OVERRIDE on the default context's global row (itself
      resolved default ctx → __GLOBAL, registry.go:933-960) beats all;
      then per-(ctx, subject) → ctx global → __GLOBAL context global →
      READWRITE.

    ``modes`` is read once, here (:func:`resolve_mode`); the data side of
    ``df`` never shuffles.
    """
    return _attach(df, resolve_mode(modes, ctx_col), subject_col, ctx_col,
                   "resolved_mode")


def with_resolved_level(df: DataFrame, levels: DataFrame,
                        subject_col: str = "subject",
                        ctx_col: str | None = None,
                        default: str = "BACKWARD") -> DataFrame:
    """Attach ``resolved_level`` (compatibility level) per the reference's
    GetConfigFull 4-tier chain (registry.go:706-776):

    - ``levels`` = (subject nullable, level): subject config → global row
      → ``default`` (the 3-tier shape j6/r7 already used).
    - ``levels`` = (registry_ctx, subject nullable, level) AND ``ctx_col``
      given: per-(ctx, subject) config → ctx-level global → __GLOBAL
      context global → ``default``.  Unlike modes there is NO kill
      switch — levels only fall through.

    ``levels`` is read once, here (:func:`resolve_level`); ``df`` never
    shuffles.
    """
    return _attach(df, resolve_level(levels, ctx_col, default), subject_col,
                   ctx_col, "resolved_level")


def write_block_status(mode_col: str = "resolved_mode") -> Column:
    """``BLOCK_STATUS`` as a column expression: NULL when writes are
    allowed, else the blocking status of a NORMAL registration."""
    return F.element_at(
        F.create_map(*[F.lit(x) for kv in BLOCK_STATUS.items() for x in kv]),
        F.col(mode_col))
