"""Property-based tests (Hypothesis) for the pure-Python domain cores:
invariants that hold for ALL inputs, not just the fixture corpus."""

from __future__ import annotations

import json
import re

from hypothesis import given, settings
from hypothesis import strategies as st

from axonops_schema_registry_spark.operators.text import glob_to_regex
from axonops_schema_registry_spark.registry.avro import (
    avro_canonical_form,
    avro_fingerprint,
)
from axonops_schema_registry_spark.registry.compat import check_pair
from axonops_schema_registry_spark.registry.spark_udfs import (
    canonical_fingerprint,
)

names = st.from_regex(r"[A-Za-z_][A-Za-z0-9_]{0,10}", fullmatch=True)
primitives = st.sampled_from(
    ["null", "boolean", "int", "long", "float", "double", "bytes", "string"])


@st.composite
def avro_records(draw):
    n = draw(st.integers(1, 5))
    fields = []
    used = set()
    for _ in range(n):
        fname = draw(names.filter(lambda s: s not in used))
        used.add(fname)
        fields.append({"name": fname, "type": draw(primitives)})
    return {"type": "record", "name": draw(names), "fields": fields}


@settings(max_examples=60, deadline=None)
@given(avro_records())
def test_canonical_form_is_idempotent_and_format_invariant(rec):
    text = json.dumps(rec)
    spaced = json.dumps(rec, indent=3)
    canon = avro_canonical_form(text)
    assert avro_canonical_form(spaced) == canon
    assert avro_canonical_form(canon) == canon        # idempotent
    assert avro_fingerprint(spaced) == avro_fingerprint(text)


@settings(max_examples=60, deadline=None)
@given(avro_records())
def test_canonical_form_drops_docs_not_identity(rec):
    with_doc = json.loads(json.dumps(rec))
    for f in with_doc["fields"]:
        f["doc"] = "some documentation"
    assert avro_fingerprint(json.dumps(with_doc)) == \
        avro_fingerprint(json.dumps(rec))
    # but the STRICT registration fingerprint distinguishes them
    assert canonical_fingerprint(json.dumps(with_doc), "AVRO", strict=True) \
        != canonical_fingerprint(json.dumps(rec), "AVRO", strict=True)


@settings(max_examples=60, deadline=None)
@given(avro_records())
def test_self_compatibility(rec):
    """Every schema is compatible with itself in every direction."""
    text = json.dumps(rec)
    assert check_pair(text, text, "AVRO") == []


@settings(max_examples=60, deadline=None)
@given(avro_records(), st.integers(0, 4))
def test_field_addition_with_default_is_backward_compatible(rec, pos):
    """Adding a defaulted field never breaks backward compatibility."""
    widened = json.loads(json.dumps(rec))
    widened["fields"].insert(
        min(pos, len(widened["fields"])),
        {"name": "zz_new_field", "type": "int", "default": 0})
    assert check_pair(json.dumps(widened), json.dumps(rec), "AVRO") == []


@settings(max_examples=100, deadline=None)
@given(st.text(alphabet=st.characters(blacklist_categories=("Cs",)),
               max_size=30))
def test_glob_regex_matches_glob_semantics(s):
    """glob_to_regex('<literal>') matches exactly the literal; '*'
    wildcards match any expansion."""
    literal = s.replace("*", "")
    rx = glob_to_regex(literal)
    assert re.match(rx, literal)
    rx_star = glob_to_regex(literal + "*")
    assert re.match(rx_star, literal + "anything")


json_types = st.sampled_from(["string", "integer", "number", "boolean"])


@st.composite
def json_objects(draw):
    n = draw(st.integers(1, 4))
    props = {}
    for _ in range(n):
        name = draw(names.filter(lambda s: s not in props))
        props[name] = {"type": draw(json_types)}
    required = draw(st.lists(st.sampled_from(sorted(props)), unique=True))
    return {"type": "object", "properties": props, "required": required}


@settings(max_examples=60, deadline=None)
@given(json_objects())
def test_json_self_compatibility(schema):
    text = json.dumps(schema)
    assert check_pair(text, text, "JSON") == []


@settings(max_examples=60, deadline=None)
@given(json_objects())
def test_json_adding_optional_property_content_model(schema):
    # reference content-model semantics: adding a typed property is
    # compatible against a CLOSED writer (it could never emit the name)
    # but INCOMPATIBLE against an open writer (it could emit anything
    # under that name) — checker.go:344-358, BDD diff 043-045
    import copy
    closed = copy.deepcopy(schema)
    closed["additionalProperties"] = False
    widened = copy.deepcopy(closed)
    widened["properties"]["zz_extra"] = {"type": "string"}
    assert check_pair(json.dumps(widened), json.dumps(closed), "JSON") == []
    open_w = copy.deepcopy(schema)
    open_w.pop("additionalProperties", None)
    open_r = copy.deepcopy(open_w)
    open_r["properties"]["zz_extra"] = {"type": "string"}
    issues = check_pair(json.dumps(open_r), json.dumps(open_w), "JSON")
    assert issues and "open content model" in issues[0]


@settings(max_examples=60, deadline=None)
@given(json_objects())
def test_json_new_required_flagged(schema):
    import copy
    narrowed = copy.deepcopy(schema)
    narrowed["properties"]["zz_req"] = {"type": "string"}
    narrowed["required"] = list(schema.get("required", [])) + ["zz_req"]
    issues = check_pair(json.dumps(narrowed), json.dumps(schema), "JSON")
    assert issues and "newly required" in issues[0]


@st.composite
def avro_mutation_case(draw):
    """(schema, mutated, expected_backward_ok): apply one known mutation
    and carry the rule-book verdict with it."""
    base = draw(avro_records())
    kind = draw(st.sampled_from(
        ["add_default", "add_no_default", "remove_field", "widen_type",
         "narrow_type"]))
    mut = json.loads(json.dumps(base))
    if kind == "add_default":
        mut["fields"].append({"name": "zz_m", "type": "int", "default": 0})
        ok = True
    elif kind == "add_no_default":
        mut["fields"].append({"name": "zz_m", "type": "int"})
        ok = False
    elif kind == "remove_field":
        mut["fields"] = mut["fields"][1:]
        ok = len(mut["fields"]) >= 0  # reader may drop fields freely
        if not mut["fields"]:
            mut["fields"] = [{"name": "zz_keep", "type": "int",
                              "default": 0}]
        ok = True
    elif kind == "widen_type":
        mut["fields"][0]["type"] = "double"
        ok = base["fields"][0]["type"] in ("int", "long", "float", "double")
    else:  # narrow_type
        mut["fields"][0]["type"] = "int"
        ok = base["fields"][0]["type"] == "int"
    return json.dumps(base), json.dumps(mut), ok


@settings(max_examples=120, deadline=None)
@given(avro_mutation_case())
def test_avro_mutation_rulebook(case):
    """Every known mutation's backward verdict matches the Avro rule book."""
    base, mut, expected_ok = case
    assert (check_pair(mut, base, "AVRO") == []) is expected_ok


# ---------------------------------------------------------------------------
# Evolution advisory properties (registry/evolution.py)
# ---------------------------------------------------------------------------

@settings(max_examples=60, deadline=None)
@given(avro_records(), names, st.sampled_from(["int", "long", "string"]))
def test_suggested_add_field_is_always_compatible(rec, fname, ftype):
    """The add_field suggestion APPLIED under a default-requiring level
    must pass its own compatibility check — for any record and any new
    field name/type (collision with an existing field = same type re-add,
    also fine)."""
    from axonops_schema_registry_spark.registry.evolution import (
        suggest_and_verify,
    )

    text = json.dumps(rec)
    r = suggest_and_verify(text, "AVRO", "BACKWARD", "add_field",
                           fname, ftype)
    existing = {f["name"] for f in rec["fields"]}
    if fname in existing:
        return  # re-adding an existing name mutates semantics; skip
    assert r["is_compatible"], r


@settings(max_examples=60, deadline=None)
@given(avro_records())
def test_deprecate_then_remove_is_the_two_step_path(rec):
    """Deprecating any field keeps the schema self-compatible (the
    advisory's step 1); removal under BACKWARD also passes (Avro readers
    ignore writer-only fields), matching the advisory's 'remove later'
    step."""
    from axonops_schema_registry_spark.registry.evolution import (
        apply_change,
    )

    text = json.dumps(rec)
    fname = rec["fields"][0]["name"]
    deprecated = apply_change(text, "AVRO", "BACKWARD",
                              "deprecate_field", fname)
    assert check_pair(deprecated, text) == []
    removed = apply_change(text, "AVRO", "BACKWARD", "remove_field", fname)
    assert check_pair(removed, text) == []


@settings(max_examples=60, deadline=None)
@given(avro_records())
def test_validate_normalize_agrees_with_canonical_form(rec):
    from axonops_schema_registry_spark.registry.evolution import (
        validate_and_normalize,
    )

    text = json.dumps(rec)
    r = validate_and_normalize(text, "AVRO")
    assert r["is_valid"]
    assert r["canonical"] == avro_canonical_form(text)
    # normalize is idempotent through validate
    again = validate_and_normalize(r["canonical"], "AVRO")
    assert again["canonical"] == r["canonical"]


@settings(max_examples=60, deadline=None)
@given(st.text(max_size=80))
def test_validate_never_raises_on_garbage(garbage):
    """ValidateSchema reports, never crashes — any input, all 3 types."""
    from axonops_schema_registry_spark.registry.evolution import (
        validate_and_normalize,
    )

    for st_name in ("AVRO", "JSON", "PROTOBUF", "THRIFT"):
        r = validate_and_normalize(garbage, st_name)
        assert isinstance(r["is_valid"], bool)


# ---------------------------------------------------------------------------
# Protobuf parser/checker properties
# ---------------------------------------------------------------------------

_proto_scalar = st.sampled_from(
    ["int32", "int64", "uint32", "sint64", "bool", "string", "bytes",
     "double", "float", "fixed32"])


@st.composite
def proto_files(draw):
    n_msg = draw(st.integers(1, 3))
    out = ['syntax = "proto3";']
    used_msgs = set()
    for _ in range(n_msg):
        mname = draw(names.filter(lambda s: s not in used_msgs))
        used_msgs.add(mname)
        out.append(f"message {mname} {{")
        n_fields = draw(st.integers(0, 5))
        used = set()
        for i in range(n_fields):
            fname = draw(names.filter(lambda s: s not in used))
            used.add(fname)
            label = draw(st.sampled_from(["", "repeated "]))
            ftype = draw(_proto_scalar)
            out.append(f"  {label}{ftype} {fname} = {i + 1};")
        out.append("}")
    return "\n".join(out) + "\n"


@settings(max_examples=60, deadline=None)
@given(proto_files())
def test_proto_self_compatibility(text):
    assert check_pair(text, text, "PROTOBUF") == []


@settings(max_examples=60, deadline=None)
@given(proto_files(), proto_files())
def test_proto_checker_never_raises(a, b):
    """Any generated pair produces a verdict list, never an exception
    (check_pair masks none of these as parse errors)."""
    msgs = check_pair(a, b, "PROTOBUF")
    assert isinstance(msgs, list)
    assert not any("schema parse error" in m for m in msgs)


@settings(max_examples=60, deadline=None)
@given(st.text(alphabet="message{}=;123abc \n", max_size=120))
def test_proto_parser_never_crashes_on_noise(noise):
    from axonops_schema_registry_spark.registry.protobuf_parse import (
        parse_proto,
    )

    try:
        parse_proto(noise)
    except (ValueError, IndexError):
        pass  # a *reported* parse failure is fine; a hang/crash is not


@settings(max_examples=80, deadline=None)
@given(st.text(max_size=120), st.text(max_size=120),
       st.sampled_from(["AVRO", "JSON", "PROTOBUF"]))
def test_check_pair_never_raises_on_noise(reader, writer, stype):
    """check_pair returns a verdict list for ANY input pair — malformed
    text lands in the parse-error fallback, never an exception."""
    msgs = check_pair(reader, writer, stype)
    assert isinstance(msgs, list)


# ---------------------------------------------------------------------------
# JSON Schema checker structural fuzz (the jsonschema mirror of the
# protobuf trio above — the reference's largest checker,
# /root/reference/internal/compatibility/jsonschema/checker_test.go)
# ---------------------------------------------------------------------------

_json_scalar_types = st.sampled_from(
    ["string", "integer", "number", "boolean", "null"])


@st.composite
def json_schemas(draw, depth=0):
    """Structured JSON Schemas across the checker's full keyword surface:
    type/properties/required/additionalProperties, numeric and string
    constraints, array items/prefixItems/bounds, enum/const,
    anyOf/oneOf/allOf/not, $ref into $defs, dependentRequired."""
    choice = draw(st.integers(0, 9 if depth < 3 else 3))
    if choice <= 1:  # scalar with constraints
        t = draw(_json_scalar_types)
        node: dict = {"type": t}
        if t in ("integer", "number") and draw(st.booleans()):
            lo = draw(st.integers(-10, 10))
            node["minimum"] = lo
            if draw(st.booleans()):
                node["maximum"] = lo + draw(st.integers(0, 20))
            if draw(st.booleans()):
                node["multipleOf"] = draw(st.integers(1, 5))
        if t == "string" and draw(st.booleans()):
            node["minLength"] = draw(st.integers(0, 5))
            if draw(st.booleans()):
                node["maxLength"] = node["minLength"] + draw(
                    st.integers(0, 20))
            if draw(st.booleans()):
                node["pattern"] = draw(st.sampled_from(
                    ["^a", "[0-9]+", ".*", "^x{1,3}$"]))
        return node
    if choice == 2:
        return {"enum": draw(st.lists(
            st.one_of(st.integers(-5, 5), st.sampled_from(["a", "b", "c"])),
            min_size=1, max_size=4, unique=True))}
    if choice == 3:
        return {"const": draw(st.one_of(st.integers(-5, 5),
                                        st.sampled_from(["k", "v"])))}
    if choice <= 5:  # object
        props = {}
        for _ in range(draw(st.integers(1, 3))):
            props[draw(names)] = draw(json_schemas(depth=depth + 1))
        node = {"type": "object", "properties": props}
        req = [k for k in props if draw(st.booleans())]
        if req:
            node["required"] = req
        if draw(st.booleans()):
            node["additionalProperties"] = draw(st.booleans())
        if len(props) >= 2 and draw(st.booleans()):
            ks = sorted(props)
            node["dependentRequired"] = {ks[0]: [ks[1]]}
        return node
    if choice == 6:  # array
        node = {"type": "array",
                "items": draw(json_schemas(depth=depth + 1))}
        if draw(st.booleans()):
            node["minItems"] = draw(st.integers(0, 3))
        if draw(st.booleans()):
            node["maxItems"] = draw(st.integers(3, 10))
        return node
    if choice == 7:
        comb = draw(st.sampled_from(["anyOf", "oneOf", "allOf"]))
        return {comb: [draw(json_schemas(depth=depth + 1))
                       for _ in range(draw(st.integers(1, 3)))]}
    if choice == 8:
        return {"not": draw(json_schemas(depth=depth + 1))}
    # $ref into $defs
    inner = draw(json_schemas(depth=depth + 1))
    return {"$defs": {"node": inner},
            "type": "object",
            "properties": {"child": {"$ref": "#/$defs/node"}}}


@settings(max_examples=60, deadline=None)
@given(json_schemas())
def test_jsonschema_fuzz_self_compatibility(schema):
    text = json.dumps(schema)
    assert check_pair(text, text, "JSON") == []


@settings(max_examples=60, deadline=None)
@given(json_schemas(), json_schemas())
def test_jsonschema_fuzz_checker_never_raises(a, b):
    """Any structured pair yields a verdict list — never an exception and
    never a masked parse error (mirror of the protobuf pair fuzz)."""
    msgs = check_pair(json.dumps(a), json.dumps(b), "JSON")
    assert isinstance(msgs, list)
    assert not any("schema parse error" in m for m in msgs)


@settings(max_examples=60, deadline=None)
@given(json_schemas())
def test_jsonschema_fuzz_new_required_is_flagged(schema):
    """Adding a fresh required property to any fuzzed OBJECT schema with
    open additionalProperties is a narrowing the checker must flag."""
    if (schema.get("type") != "object" or "properties" not in schema
            or schema.get("additionalProperties") is False
            or "$defs" in schema):
        return
    reader = json.loads(json.dumps(schema))
    reader["properties"] = dict(reader["properties"])
    reader["properties"]["zz_new_req"] = {"type": "string"}
    reader["required"] = sorted(set(reader.get("required", []))
                                | {"zz_new_req"})
    msgs = check_pair(json.dumps(reader), json.dumps(schema), "JSON")
    assert msgs, "new required property must produce an incompatibility"


@given(st.sampled_from([
    '{"type":"record","name":"R","fields":[{"name":"a","type":"int"}]}',
    '{"type":"object","properties":{"a":{"type":"integer"}}}',
    '{"type":"string"}',
    '["null","string"]',
]))
@settings(max_examples=20, deadline=None)
def test_cross_type_text_never_passes_protobuf_check(text):
    """Any JSON-language schema registered cross-type under a PROTOBUF
    candidate must be incompatible in both directions — the silent-pass
    path the r5 audit-table sweep exposed."""
    from axonops_schema_registry_spark.registry.compat import check_pair

    proto = 'syntax = "proto3";\nmessage M { int64 a = 1; }'
    assert check_pair(proto, text, "PROTOBUF"), text
    assert check_pair(text, proto, "PROTOBUF"), text


# ---------------------------------------------------------------------------
# PNG pixel kernel: decode(encode(pixels)) == pixels for ALL images
# ---------------------------------------------------------------------------

@st.composite
def rgb_images(draw):
    w = draw(st.integers(1, 12))
    h = draw(st.integers(1, 10))
    px = [[(draw(st.integers(0, 255)), draw(st.integers(0, 255)),
            draw(st.integers(0, 255))) for _ in range(w)]
          for _ in range(h)]
    filters = draw(st.lists(st.integers(0, 4), min_size=1, max_size=5))
    return w, h, px, filters


@settings(max_examples=40, deadline=None)
@given(rgb_images())
def test_png_decode_recovers_any_image(img):
    from tests.test_llm_ops import _reference_png

    from axonops_schema_registry_spark.llm.multimodal import (
        decode_png_pixels,
    )

    w, h, px, filters = img
    got = decode_png_pixels(_reference_png(w, h, px, filters))
    assert (got["width"], got["height"]) == (w, h)
    assert got["n_pixels"] == w * h
    for ch, key in enumerate(("sum_r", "sum_g", "sum_b")):
        assert got[key] == sum(p[ch] for row in px for p in row)


@settings(max_examples=40, deadline=None)
@given(st.integers(0, 100_000))
def test_png_synthesis_roundtrip_any_doc_id(doc_id):
    from axonops_schema_registry_spark.llm.multimodal import (
        _pixel_value,
        decode_png_pixels,
        synthesize_png_pixels,
    )

    got = decode_png_pixels(synthesize_png_pixels(doc_id))
    w, h = doc_id % 16 + 1, doc_id % 12 + 1
    assert (got["width"], got["height"]) == (w, h)
    assert got["sum_r"] == sum(_pixel_value(doc_id, x, y)[0]
                               for y in range(h) for x in range(w))


def test_decimal_sum_discipline_is_order_free_and_engine_exact(spark):
    """The repo-wide float rule: ROUND the double, then cast to
    DECIMAL, then sum exactly.  Pinned directly on 200 groups of
    mixed-magnitude signed doubles: Spark under two partitionings AND
    DuckDB must agree to the bit — the property every oracle
    hash-match in this repo rests on.

    The round() step is load-bearing: writing this test WITHOUT it
    found a genuine engine split — both engines round doubles
    half-away-from-zero, but their double→DECIMAL casts disagree on
    representational ties (6097.0763126665 → Spark …667, DuckDB …666;
    likewise 153/1024 = 0.1494140625, present in the sf0.1
    embeddings) — which is why every raw-double cast site in
    lab1/qz2/nn4 rounds first.  The magnitudes here are bounded to the
    regime the operators actually quantize (unit-scale components,
    squared distances, surprisals — |x| ≲ 1e3): at ~1e5+, DuckDB's
    float-based round() itself drifts from Spark's exact-expansion
    round by one quantum on boundary values, so quantizing
    large-magnitude raw doubles portably needs the scaled-integer
    floor pattern instead (sampling.py's convention)."""
    import duckdb
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    rng = np.random.default_rng(7)
    n_groups, per = 200, 50
    vals = (rng.standard_normal(n_groups * per)
            * (10.0 ** rng.integers(-6, 3, n_groups * per)))
    # include the known cast-tie value explicitly
    vals[0] = 0.1494140625
    pdf = pd.DataFrame({"g": np.repeat(np.arange(n_groups), per),
                        "x": vals})

    def spark_sums(df):
        rows = (df.groupBy("g")
                .agg(F.sum(F.round(F.col("x"), 9)
                           .cast("decimal(25,9)"))
                     .cast("double").alias("s")).collect())
        return {r.g: r.s for r in rows}

    base = spark.createDataFrame(pdf)
    a = spark_sums(base.repartition(32))
    b = spark_sums(base.repartition(3, "g"))
    assert a == b  # partitioning/order independence, bit-exact

    con = duckdb.connect()
    con.register("t", pdf)
    duck = {g: s for g, s in con.execute(
        "SELECT g, CAST(SUM(CAST(round(x, 9) AS DECIMAL(25,9))) "
        "AS DOUBLE) FROM t GROUP BY g").fetchall()}
    assert a == duck  # engine portability, bit-exact


def test_floor_q_is_tie_free_across_engines(spark):
    """The r12 quantization lesson, pinned as a property: round(x, 4)
    DIVERGES across engines on decimal-tie expansions of identical
    doubles (Spark rounds the exact binary expansion via BigDecimal
    HALF_UP; DuckDB rounds float-side) — caught live when one of 20k
    sf1 cosines came back -0.0001 vs -0.0.  floor_q (floor of the
    shared x·10^4 product) must agree to the BIT on an adversarial
    value set: every dyadic m/128 (exact 7-decimal ...78125 ties),
    the ±5e-5 neighborhood, negative zero region, and random
    mixed-magnitude doubles.  The test also documents that round()
    genuinely disagrees on at least one of these inputs — if both
    engines' round() ever starts agreeing everywhere, the floor_q
    comment should be revisited."""
    import duckdb
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from axonops_schema_registry_spark.queries.base import floor_q

    rng = np.random.default_rng(12)
    vals = [m / 128.0 for m in range(-300, 300)]          # dyadic ties
    vals += [m / 128.0 / 1000.0 for m in range(-300, 300)]
    vals += list(np.nextafter(np.float64(5e-5), 0)
                 * np.array([1.0, -1.0]))
    vals += [5e-5, -5e-5, np.nextafter(np.float64(-5e-5), -1.0)]
    vals += list(rng.standard_normal(2000)
                 * (10.0 ** rng.integers(-6, 3, 2000)))
    pdf = pd.DataFrame({"i": range(len(vals)),
                        "x": np.array(vals, dtype=np.float64)})
    sdf = spark.createDataFrame(pdf)
    got_floor = {r.i: r.q for r in sdf.select(
        "i", floor_q(F.col("x"), 4).alias("q")).collect()}
    got_round = {r.i: r.q for r in sdf.select(
        "i", F.round(F.col("x"), 4).alias("q")).collect()}

    con = duckdb.connect()
    con.register("t", pdf)
    duck_floor = dict(con.execute(
        "SELECT i, floor(x * 10000.0) / 10000.0 FROM t").fetchall())
    duck_round = dict(con.execute(
        "SELECT i, round(x, 4) FROM t").fetchall())
    con.close()

    floor_mismatch = [i for i in got_floor
                      if repr(got_floor[i]) != repr(duck_floor[i])]
    assert floor_mismatch == []
    round_mismatch = [i for i in got_round
                      if repr(got_round[i]) != repr(duck_round[i])]
    # the hazard is real on this input set — round() disagrees
    assert round_mismatch, (
        "round(x, 4) now agrees across engines on the adversarial set; "
        "floor_q's rationale comment is stale")


def test_bigram_surprisal_micro_unit_margin():
    """VERDICT r13 ask #6 — quantify the bigram-surprisal ulp caveat
    (llm/text.py bigram_surprisal docstring): scores are quantized to
    integer micro-units via floor(-ln(p) · 1e6), which is tie-FREE
    but still cross-engine-exact only if no -ln(p)·1e6 lands within
    ~1 ulp of an integer boundary (Java's Math.log and DuckDB's ln
    are each allowed 1-ulp error).  This sweep replays the ENTIRE
    distinct score-type population the operator produces on all
    three fixture corpora — every seen-bigram -ln(cb/cu), every
    backoff -ln(0.4·cu/N), every first-token -ln(cu/N), and the two
    OOV floors — in pure Python (the same IEEE doubles both engines
    feed their floor), and asserts the minimum distance to an
    integer boundary exceeds 1e-6 micro-units: >= ~500 ulps of
    slack at score magnitude ~10 (ulp(1e7) ≈ 1.9e-9), i.e. a 1-ulp
    log discrepancy CANNOT cross a boundary on these corpora.
    Exact -ln(1) = 0 rows (cb == cu) are exempt: 0 is produced
    exactly by both engines' log, no rounding occurs.  zf1 reuses
    the identical floor(ln·1e6) quantization on ranks 1..50 and
    per-source token frequencies, so its exact value population is
    swept here too (same exemption for ln(1)).  Observed margins
    (2026-08-15, ppl2+zf1 populations): sf0.001 ≈ 3.0e-3,
    sf0.01 ≈ 2.7e-4, sf0.1 ≈ 9.5e-4 — documented in COVERAGE.md;
    the sf1 sweep (the ulp-margin script at commit d15378d) pins the
    10x replica margin in docs/SCALING.md."""
    import math

    import duckdb

    worst = []
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        rows = duckdb.sql(
            f"SELECT doc_id, text, source FROM "
            f"'/root/testdata/{sf}/documents.parquet'").fetchall()
        uni: dict[str, int] = {}
        big: dict[tuple[str, str], int] = {}
        per_src: dict[tuple[str, str], int] = {}  # zf1's population
        for doc_id, text, source in rows:
            toks_all = [t for t in text.lower().split() if t]
            for t in toks_all:
                per_src[(source, t)] = per_src.get((source, t), 0) + 1
            if doc_id % 7 == 0:
                continue  # scored slice, not reference
            for t in toks_all:
                uni[t] = uni.get(t, 0) + 1
            for u, w in zip(toks_all, toks_all[1:]):
                big[(u, w)] = big.get((u, w), 0) + 1
        n = sum(uni.values())
        vals = [-math.log(cb / uni[u]) for (u, _w), cb in big.items()
                if cb != uni[u]]                       # exact 0 exempt
        vals += [-math.log(0.4 * cu / n) for cu in set(uni.values())]
        vals += [-math.log(cu / n) for cu in set(uni.values())]
        vals += [-math.log(0.4 / n), -math.log(1.0 / n)]
        # zf1 uses the same floor(ln·1e6) quantization on ranks and
        # per-source full-corpus frequencies — sweep its exact
        # population too (ln(1)=0 exempt; all counts swept, a
        # superset of the top-50 the operator keeps)
        vals += [math.log(r) for r in range(2, 51)]
        vals += [math.log(c) for c in set(per_src.values()) if c > 1]
        margin = min(min(x - math.floor(x), math.ceil(x) - x)
                     for v in vals for x in (v * 1e6,))
        worst.append((sf, margin, len(vals)))
        assert margin > 1e-6, (
            f"{sf}: a -ln(p)·1e6 sits {margin:.2e} from an integer "
            "boundary — within reach of a 1-ulp cross-engine log "
            "difference; the floor(·1e6) quantization is no longer "
            "safe on this corpus")
    # the margins are corpus data, not code — print for the record
    print("micro-unit margins:", worst)
