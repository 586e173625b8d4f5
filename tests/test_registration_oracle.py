"""``register_batch`` against a plain-Python serial replay of the
reference write path (registry.go:63-220): one request at a time, in
``seq`` order, against a store that every accepted request appends to.

The replay shares only the domain cores with the engine
(``check_compatibility`` and the strict canonical fingerprint); the mode
and level chains, dedup, the soft-delete rules, scoping by context and
compatibility group, and version allocation are re-derived here, so the
property checks both of ``register_batch``'s dispatchers (the in-process
path, and the cogroup forced with ``REGISTER_ROW_CAP = 0``) and the
per-subject pass they share.
"""

from __future__ import annotations

import hashlib
import itertools
import json
from collections import defaultdict

import pytest
from hypothesis import Phase, given, settings
from hypothesis import strategies as st
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from axonops_schema_registry_spark.registry import registration
from axonops_schema_registry_spark.registry.compat import check_compatibility
from axonops_schema_registry_spark.registry.registration import register_batch
from axonops_schema_registry_spark.registry.spark_udfs import (
    canonical_fingerprint,
)

BLOCKED = {"READONLY": "readonly_mode", "READONLY_OVERRIDE": "readonly_mode",
           "IMPORT": "import_mode"}


def serial_register(existing, incoming, mode, modes, levels, native):
    """Replay ``incoming`` request by request.

    ``existing``/``incoming`` are dicts with ctx, subject, grp,
    schema_type, schema_text (plus version/deleted, resp. seq); ``modes``
    and ``levels`` are (subject or None, value) pairs, None being the
    global row.  Returns {(ctx, subject, seq): (status, version,
    n_issues)}."""
    store = defaultdict(list)
    for row in existing:
        store[(row["ctx"], row["subject"])].append(dict(row))
    subject_mode = {s: m for s, m in modes if s is not None}
    global_mode = max((m for s, m in modes if s is None), default=None)
    subject_level = {s: lv for s, lv in levels if s is not None}
    global_level = max((lv for s, lv in levels if s is None), default=None)

    def fingerprint(row):
        if native:
            return hashlib.sha256(row["schema_text"].encode()).hexdigest()
        return canonical_fingerprint(row["schema_text"], row["schema_type"],
                                     strict=True)

    out = {}
    for req in sorted(incoming, key=lambda r: r["seq"]):
        key = (req["ctx"], req["subject"], req["seq"])
        if global_mode == "READONLY_OVERRIDE":
            write_mode = "READONLY_OVERRIDE"
        else:
            write_mode = (subject_mode.get(req["subject"]) or global_mode
                          or "READWRITE")
        if write_mode in BLOCKED:
            out[key] = (BLOCKED[write_mode], None, 0)
            continue
        rows = store[(req["ctx"], req["subject"])]
        history = sorted((r for r in rows if not r["deleted"]
                          and r["grp"] == req["grp"]),
                         key=lambda r: r["version"])
        if fingerprint(req) in {fingerprint(r) for r in history}:
            out[key] = ("duplicate", None, 0)
            continue
        level = (subject_level.get(req["subject"]) or global_level
                 or mode).upper()
        ok, msgs = check_compatibility(
            req["schema_text"], [r["schema_text"] for r in history], level,
            req["schema_type"])
        if not ok:
            out[key] = ("incompatible", None, len(msgs))
            continue
        version = max((r["version"] for r in rows), default=0) + 1
        rows.append(dict(req, version=version, deleted=False))
        out[key] = ("registered", version, 0)
    return out


# -- generated scenarios ------------------------------------------------------


def _record(fields, spaced=False):
    """Avro record text; ``fields`` are (name, required) pairs."""
    doc = {"type": "record", "name": "R", "fields": [
        {"name": n, "type": "string"} if req
        else {"name": n, "type": "string", "default": ""}
        for n, req in fields]}
    return json.dumps(doc, indent=2) if spaced else json.dumps(doc)


def _history(fields_per_version, deleted=()):
    return [{"version": v, "fields": f, "deleted": v in deleted}
            for v, f in enumerate(fields_per_version, start=1)]


BASE = [("a", True)]
PLUS_B = BASE + [("b", False)]
PLUS_C = PLUS_B + [("c", False)]

QUOTED = "it's\\a\\'path"

OPS = ("add_optional", "add_required", "drop_last", "dup_live",
       "spaced_live", "dup_deleted", "repeat")


@st.composite
def scenarios(draw, with_ctx: bool, with_group: bool):
    """Subjects with histories, write modes and levels, and one batch.

    Every scenario plants the cases the property must cover:
    ``acc`` (a duplicate of an earlier accepted row), ``rej`` (a
    duplicate of an earlier rejected row), ``del`` (a fingerprint live
    only on soft-deleted rows), ``ro``/``rov``/``imp`` (READONLY,
    READONLY_OVERRIDE, IMPORT), ``none`` (level NONE), ``spaced`` (a
    whitespace variant of a live version, a duplicate unless dedup runs
    on the raw text), ``grp`` (two compatibility groups) with
    ``with_group``, ``QUOTED`` (a duplicate in a subject whose name holds
    ``'`` and ``\\``, so its history must be found), and with
    ``with_ctx`` a second context whose ``acc`` already holds the text
    the first context registers.  Filler subjects draw their history,
    modes, levels, groups and requests."""
    groups = ["g1", "g2"] if with_group else [None]
    subjects = {
        "acc": (_history([BASE]), [("add_optional", "g1"),
                                   ("repeat", "g1")]),
        "rej": (_history([BASE, PLUS_B]), [("add_required", "g1"),
                                           ("repeat", "g1")]),
        "del": (_history([BASE, PLUS_B], deleted={2}),
                [("dup_deleted", "g1")]),
        "ro": (_history([BASE]), [("add_optional", "g1")]),
        "rov": (_history([BASE]), [("add_optional", "g1")]),
        "imp": (_history([]), [("add_optional", "g1")]),
        "none": (_history([BASE]), [("add_required", "g1")]),
        "spaced": (_history([BASE, PLUS_B]), [("spaced_live", "g1")]),
        QUOTED: (_history([BASE]), [("dup_live", "g1")]),
    }
    modes = [("ro", "READONLY"), ("rov", "READONLY_OVERRIDE"),
             ("imp", "IMPORT")]
    levels = [("rej", "BACKWARD"), ("del", "BACKWARD"), ("none", "NONE"),
              ("spaced", "BACKWARD")]
    for i in range(draw(st.integers(0, 3))):
        name = f"f{i}"
        n_hist = draw(st.integers(0, 3))
        hist = _history([BASE, PLUS_B, PLUS_C][:n_hist],
                        deleted=draw(st.sets(st.integers(1, 3))))
        ops = draw(st.lists(st.tuples(st.sampled_from(OPS),
                                      st.sampled_from(groups)),
                            min_size=1, max_size=4))
        subjects[name] = (hist, ops)
        mode = draw(st.sampled_from([None, "READWRITE", "READONLY"]))
        if mode:
            modes.append((name, mode))
        level = draw(st.sampled_from([None, "BACKWARD", "FORWARD", "FULL",
                                      "NONE", "BACKWARD_TRANSITIVE"]))
        if level:
            levels.append((name, level))
    if draw(st.booleans()):
        modes.append((None, "READWRITE"))
    global_level = draw(st.sampled_from([None, "BACKWARD", "FULL"]))
    if global_level:
        levels.append((None, global_level))
    mode = draw(st.sampled_from(["BACKWARD", "FORWARD", "NONE"]))

    existing, requests = [], []

    def add(ctx, subject, hist, ops, group_of):
        for h in hist:
            existing.append({"ctx": ctx, "subject": subject,
                             "version": h["version"], "schema_type": "AVRO",
                             "schema_text": _record(h["fields"]),
                             "deleted": h["deleted"],
                             "grp": group_of(h["version"])})
        live = [h for h in hist if not h["deleted"]]
        dead = [h for h in hist if h["deleted"]]
        latest = live[-1]["fields"] if live else BASE
        texts = []
        for k, (op, group) in enumerate(ops):
            new = f"n{k}"
            if op == "add_optional":
                text = _record(latest + [(new, False)])
            elif op == "add_required":
                text = _record(latest + [(new, True)])
            elif op == "drop_last":
                text = _record(latest[:-1] or [(new, True)])
            elif op in ("dup_live", "spaced_live") and live:
                text = _record(draw(st.sampled_from(live))["fields"],
                               spaced=op == "spaced_live")
            elif op == "dup_deleted" and dead:
                text = _record(draw(st.sampled_from(dead))["fields"])
            elif op == "repeat" and texts:
                text = draw(st.sampled_from(texts))
            else:
                text = _record(latest + [(new, False)])
            texts.append(text)
            requests.append({"ctx": ctx, "subject": subject,
                             "schema_type": "AVRO", "schema_text": text,
                             "grp": group if with_group else None})

    for subject, (hist, ops) in subjects.items():
        planted = not subject.startswith("f")
        add("a" if with_ctx else None, subject, hist, ops,
            lambda v: None if not with_group else
            "g1" if planted else draw(st.sampled_from(groups)))
    if with_group:
        # history in g1 only: an incompatible add registers in g2
        levels.append(("grp", "BACKWARD"))
        add(None, "grp", _history([BASE, PLUS_B]),
            [("add_required", "g1"), ("add_required", "g2")],
            lambda v: "g1")
    if with_ctx:
        # context b: ``acc`` already holds the text context a registers
        add("b", "acc", _history([BASE + [("n0", False)]]),
            [("dup_live", None)], lambda v: None)
    # a random interleaving; seq restarts per context, so contexts share
    # (subject, seq) pairs
    order = draw(st.permutations(range(len(requests))))
    next_seq: dict = defaultdict(int)
    for idx in order:
        ctx = requests[idx]["ctx"]
        requests[idx]["seq"] = next_seq[ctx]
        next_seq[ctx] += 1
    return existing, requests, mode, modes, levels


def _frames(spark, existing, requests, modes, levels, with_ctx, with_group):
    ctx = ["ctx"] if with_ctx else []
    grp = ["grp"] if with_group else []
    ex_cols = ctx + ["subject", "version", "schema_type", "schema_text",
                     "deleted"] + grp
    in_cols = ctx + ["subject", "seq", "schema_type", "schema_text"] + grp
    ddl = {"ctx": "string", "subject": "string", "version": "int",
           "schema_type": "string", "schema_text": "string",
           "deleted": "boolean", "grp": "string", "seq": "long"}
    ex = spark.createDataFrame(
        [tuple(r[c] for c in ex_cols) for r in existing],
        ", ".join(f"{c} {ddl[c]}" for c in ex_cols))
    inc = spark.createDataFrame(
        [tuple(r[c] for c in in_cols) for r in requests],
        ", ".join(f"{c} {ddl[c]}" for c in in_cols))
    modes_df = spark.createDataFrame(modes, "subject string, mode string")
    levels_df = spark.createDataFrame(levels,
                                      "subject string, level string")
    return ex, inc, modes_df, levels_df


CONFIGS = {"plain": (False, False, False), "native": (False, False, True),
           "ctx": (True, False, False), "group": (False, True, False)}


# the row cap that selects each of register_batch's dispatchers; every
# non-empty batch exceeds a cap of 0
PATHS = {"in_process": registration.REGISTER_ROW_CAP, "cogroup": 0}


def _ran(out) -> str:
    plan = out._jdf.queryExecution().logical().toString()
    return "cogroup" if "FlatMapCoGroupsInPandas" in plan else "in_process"


@pytest.mark.parametrize("config", list(CONFIGS))
def test_register_batch_matches_serial_replay(spark, config):
    _check_serial_replay(spark, config, "in_process")


@pytest.mark.parametrize("config", list(CONFIGS))
def test_register_batch_cogroup_matches_serial_replay(spark, config,
                                                      monkeypatch):
    monkeypatch.setattr(registration, "REGISTER_ROW_CAP", PATHS["cogroup"])
    _check_serial_replay(spark, config, "cogroup")


def _check_serial_replay(spark, config: str, path: str) -> None:
    with_ctx, with_group, native = CONFIGS[config]

    # each example runs a Spark job: no shrinking, the first failing
    # scenario is reported as drawn
    @settings(max_examples=4, deadline=None, derandomize=True,
              database=None, phases=[Phase.explicit, Phase.generate])
    @given(scenarios(with_ctx, with_group))
    def check(scenario):
        existing, requests, mode, modes, levels = scenario
        want = serial_register(existing, requests, mode, modes, levels,
                               native)
        ex, inc, modes_df, levels_df = _frames(
            spark, existing, requests, modes, levels, with_ctx, with_group)
        out = register_batch(spark, ex, inc, mode=mode,
                             native_fingerprint=native, modes=modes_df,
                             levels=levels_df,
                             ctx_col="ctx" if with_ctx else None,
                             group_col="grp" if with_group else None)
        assert _ran(out) == path
        got = {(r["ctx"] if with_ctx else None, r["subject"], r["seq"]):
               (r["status"], r["assigned_version"], r["n_issues"])
               for r in out.collect()}
        assert got == want

        # the planted cases did occur
        def statuses(subject, ctx="a" if with_ctx else None):
            return [v[:2] for k, v in sorted(want.items(),
                                             key=lambda kv: kv[0][2])
                    if k[:2] == (ctx, subject)]
        assert [s for s, _ in statuses("acc")] == ["registered",
                                                   "duplicate"]
        assert statuses("rej") == [("incompatible", None)] * 2
        assert statuses("del") == [("registered", 3)]
        assert statuses("ro") == statuses("rov") == [("readonly_mode",
                                                      None)]
        assert statuses("imp") == [("import_mode", None)]
        assert statuses("none") == [("registered", 2)]
        assert statuses(QUOTED) == [("duplicate", None)]
        assert statuses("spaced")[0][0] == (
            "registered" if native else "duplicate")
        if with_group:
            assert sorted(s for s, _ in statuses("grp")) == [
                "incompatible", "registered"]
        if with_ctx:
            assert statuses("acc", "b") == [("duplicate", None)]

    check()


@pytest.mark.parametrize("seq_type,spark_type",
                         [("int", IntegerType()), ("long", LongType())])
def test_register_batch_output_schema(spark, seq_type, spark_type,
                                     monkeypatch):
    """The output schema is the gate path's: names, order, types and
    nullability; ``seq`` keeps the incoming column's type.  Checked on
    both paths, on an empty batch (in-process either way: 0 rows is under
    any cap) and a one-row batch."""
    text = _record(BASE)
    for path, ctx, rows in itertools.product(
            PATHS, (None, "ctx"), ([], [("s", 1)])):
        monkeypatch.setattr(registration, "REGISTER_ROW_CAP", PATHS[path])
        rows = [(("a",) if ctx else ()) + r for r in rows]
        prefix = f"{ctx} string, " if ctx else ""
        ex = spark.createDataFrame(
            [r[:-1] + (1, "AVRO", text) for r in rows],
            prefix + "subject string, version int, "
                     "schema_type string, schema_text string")
        inc = spark.createDataFrame(
            [r + ("AVRO", text) for r in rows],
            prefix + f"subject string, seq {seq_type}, "
                     "schema_type string, schema_text string")
        want = StructType(
            ([StructField(ctx, StringType())] if ctx else [])
            + [StructField("subject", StringType()),
               StructField("seq", spark_type),
               StructField("status", StringType()),
               StructField("assigned_version", IntegerType()),
               StructField("n_issues", IntegerType())])
        for mode in ("BACKWARD", "NONE"):
            out = register_batch(spark, ex, inc, mode=mode, ctx_col=ctx)
            assert out.schema == want
            assert [r.status for r in out.collect()] == (
                ["duplicate"] if rows else [])
            if rows:
                assert _ran(out) == path


def test_reserved_fields_equal_on_both_paths(spark, monkeypatch):
    """The reserved-field rules (``metadata_col`` + ``validate_fields``,
    which the generated scenarios leave out) give the same rows on the
    in-process path and on the cogroup."""
    from axonops_schema_registry_spark.queries.registry_queries import (
        rf1_reserved_fields,
    )

    in_process = rf1_reserved_fields(spark, None)
    monkeypatch.setattr(registration, "REGISTER_ROW_CAP", PATHS["cogroup"])
    cogroup = rf1_reserved_fields(spark, None)
    assert (_ran(in_process), _ran(cogroup)) == ("in_process", "cogroup")
    rows = [tuple(r) for r in in_process.collect()]
    assert rows == [tuple(r) for r in cogroup.collect()]
    assert [r[2] for r in rows].count("reserved_conflict") == 4
