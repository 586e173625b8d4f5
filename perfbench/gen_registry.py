"""Seeded registry inputs and their pure-Python expected results.

The corpus is a set of Avro / JSON Schema / Protobuf subjects.  Every
version of a subject adds one optional field to the previous one, so the
generator knows, without asking the program, each version's text and
field names, which versions are soft-deleted, and how a planted change
must fare under every compatibility mode:

- add an optional field            -> compatible in every BACKWARD mode;
- add a required field (Avro: no default; JSON: required property;
  Protobuf: change a field's wire type) -> incompatible;
- Avro only: drop the default of the field version 2 added
  -> BACKWARD-compatible (the latest has that field) but
     BACKWARD_TRANSITIVE-incompatible whenever version 1 is live.

Soft deletes follow the rule the SQL surface derives from its documents
table: schema_id % 20 == 0 is deleted.
"""

from __future__ import annotations

import itertools
import json
import random
import re
from dataclasses import dataclass, field

DOMAINS = ("orders", "users", "payments", "events", "inventory", "audit")
TYPES = ("AVRO", "JSON", "PROTOBUF")
TYPE_WEIGHTS = (0.6, 0.2, 0.2)

# field-name pool; earlier names are drawn more often (Zipf), so common
# names are shared across many subjects and field search has real hits
FIELD_POOL = (
    "id", "created_at", "customer_id", "event_type", "user_name",
    "order_id", "amount", "currency", "status", "updated_at", "email",
    "country_code", "session_id", "product_id", "quantity", "unit_price",
    "source_system", "trace_id", "tenant_id", "is_active", "region_name",
    "device_type", "ip_address", "retry_count", "error_code", "latency_ms",
    "payload_size", "schema_hash", "batch_id", "partition_key",
    "shipping_address", "billing_address", "discount_rate", "tax_amount",
    "loyalty_tier", "referral_code", "campaign_id", "click_count",
    "page_url", "user_agent", "locale", "time_zone", "phone_number",
    "account_type", "risk_score", "fraud_flag", "approval_state",
    "warehouse_id", "sku_code", "carrier_name")

AVRO_TYPES = (("string", '""'), ("long", "0"), ("double", "0.0"),
              ("boolean", "false"))
JSON_TYPES = ("string", "integer", "number", "boolean")
PROTO_TYPES = ("string", "int64", "double", "bool")
# an incompatible Protobuf change: same number, different wire type
PROTO_SWAP = {"string": "int64", "int64": "string", "double": "string",
              "bool": "string"}


def camel(name: str) -> str:
    head, *rest = name.split("_")
    return head + "".join(p.title() for p in rest)


def norm_name(name: str) -> str:
    """The registry's field-name normalisation (camelCase -> snake)."""
    s = re.sub(r"([a-z0-9])([A-Z])", r"\1_\2", name)
    return re.sub(r"[-\s]+", "_", s).lower()


@dataclass
class Field:
    name: str      # as written in the schema (snake or camel style)
    ftype: int     # index into the per-language type table


@dataclass
class Subject:
    name: str
    stype: str
    fields: list[Field]            # fields of the LATEST version
    base: int                      # number of fields in version 1
    versions: list[int] = field(default_factory=list)   # version numbers
    schema_ids: list[int] = field(default_factory=list)
    deleted: list[bool] = field(default_factory=list)
    extra: list[str] = field(default_factory=list)      # unused pool names
    next_tag: int = 0

    def fields_at(self, idx: int) -> list[Field]:
        """Fields of the idx-th stored version (0-based)."""
        return self.fields[:self.base + idx]

    def live_idx(self) -> list[int]:
        return [i for i, d in enumerate(self.deleted) if not d]


def render(subj: Subject, fields: list[Field], *, no_default: str = "",
           required: str = "", swap: str = "") -> str:
    """Schema text for ``fields``.  ``no_default`` names an Avro field
    rendered without its default, ``required`` a JSON property added to
    ``required``, ``swap`` a Protobuf field whose wire type changes."""
    rec = "R" + re.sub(r"[^A-Za-z0-9]", "", subj.name.title())
    if subj.stype == "AVRO":
        parts = []
        for i, f in enumerate(fields):
            t, dflt = AVRO_TYPES[f.ftype]
            if i == 0 or f.name == no_default:
                parts.append(f'{{"name":"{f.name}","type":"{t}"}}')
            else:
                parts.append(f'{{"name":"{f.name}","type":"{t}",'
                             f'"default":{dflt}}}')
        return (f'{{"type":"record","name":"{rec}","namespace":"bench",'
                f'"fields":[{",".join(parts)}]}}')
    if subj.stype == "JSON":
        props = ",".join(f'"{f.name}":{{"type":"{JSON_TYPES[f.ftype]}"}}'
                         for f in fields)
        req = [fields[0].name] + ([required] if required else [])
        # closed content model: adding an optional property is then a
        # compatible change (it is not for an open model)
        return (f'{{"type":"object","title":"{rec}","properties":{{{props}}},'
                f'"required":{json.dumps(req)},"additionalProperties":false}}')
    lines = []
    for i, f in enumerate(fields):
        t = PROTO_TYPES[f.ftype]
        if f.name == swap:
            t = PROTO_SWAP[t]
        lines.append(f"  {t} {f.name} = {i + 1};")
    return ('syntax = "proto3";\npackage bench;\n'
            f"message {rec} {{\n" + "\n".join(lines) + "\n}\n")


def zipf_weights(n: int, s: float) -> list[float]:
    return [1.0 / (r + 1) ** s for r in range(n)]


def exact_shares(rng: random.Random, n: int, values, weights) -> list:
    """``n`` values in random order, each value's count its share of
    ``n`` by ``weights``, rounded by largest remainder."""
    total = float(sum(weights))
    quotas = [n * w / total for w in weights]
    counts = [int(q) for q in quotas]
    by_rest = sorted(range(len(values)), key=lambda i: counts[i] - quotas[i])
    for i in by_rest[:n - sum(counts)]:
        counts[i] += 1
    out = [v for v, c in zip(values, counts) for _ in range(c)]
    rng.shuffle(out)
    return out


class Corpus:
    """Registry corpus plus everything the checks need to know about it."""

    def __init__(self, seed: int, n_subjects: int) -> None:
        rng = random.Random(seed)
        self.subjects: list[Subject] = []
        self.next_id = 1
        pool_w = zipf_weights(len(FIELD_POOL), 0.9)
        # the shares are exact for every seed, only their assignment to
        # subjects is random: type mix, version-count skew (mostly 1-5,
        # 6% long histories of 12-20 versions), camelCase share
        types = exact_shares(rng, n_subjects, TYPES, TYPE_WEIGHTS)
        n_long = round(0.06 * n_subjects)
        n_vers = exact_shares(rng, n_subjects - n_long, (1, 2, 3, 4, 5),
                              (30, 30, 20, 12, 8))
        n_vers += [12 + j % 9 for j in range(n_long)]
        rng.shuffle(n_vers)
        camels = exact_shares(rng, n_subjects, (True, False), (0.3, 0.7))
        for i in range(n_subjects):
            stype, n_ver = types[i], n_vers[i]
            n_base = rng.randint(3, 6)
            n_fields = n_base + n_ver - 1
            # every schema keys on "id"; the rest are distinct pool names,
            # written camelCase in ~30% of subjects (field search must
            # normalise them)
            names = ["id"]
            while len(names) < n_fields + 4:
                nm = rng.choices(FIELD_POOL, pool_w)[0]
                if nm not in names:
                    names.append(nm)
            if camels[i]:
                names = [camel(n) for n in names]
            fields = [Field("id", 1)] + [Field(n, rng.randrange(4))
                                         for n in names[1:n_fields]]
            subj = Subject(f"{DOMAINS[i % len(DOMAINS)]}-{i:04d}-value",
                           stype, fields, n_base, extra=names[n_fields:])
            for _ in range(n_ver):
                self._append_version(subj)
            self.subjects.append(subj)
        self.by_name = {s.name: s for s in self.subjects}
        order = list(range(n_subjects))
        rng.shuffle(order)
        # Zipf popularity over subjects, ranks assigned at random
        w = zipf_weights(n_subjects, 1.1)
        self.popularity = [0.0] * n_subjects
        for rank, idx in enumerate(order):
            self.popularity[idx] = w[rank]
        self.cum_popularity = list(itertools.accumulate(self.popularity))

    def _append_version(self, subj: Subject, registered: bool = False) -> int:
        """Record the next version of ``subj``; generated history follows
        the soft-delete rule, versions registered later are live."""
        sid = self.next_id
        self.next_id += 1
        subj.versions.append(len(subj.versions) + 1)
        subj.schema_ids.append(sid)
        subj.deleted.append(not registered and sid % 20 == 0)
        return sid

    def register(self, subj: Subject, new_field: Field) -> tuple:
        """Apply an accepted add-optional-field version; returns its row."""
        subj.fields.append(new_field)
        sid = self._append_version(subj, registered=True)
        idx = len(subj.versions) - 1
        return (subj.name, subj.versions[idx], subj.stype,
                self.text(subj, idx), False, sid)

    def fresh_field(self, subj: Subject) -> Field:
        """A field name ``subj`` has never used (pool leftovers first)."""
        if subj.extra:
            return Field(subj.extra.pop(0), 0)
        subj.next_tag += 1
        return Field(f"attr_{subj.next_tag}", 0)

    def text(self, subj: Subject, idx: int) -> str:
        return render(subj, subj.fields_at(idx))

    # -- table views -------------------------------------------------------

    def rows(self):
        """(subject, version, schema_type, schema_text, deleted, schema_id)"""
        for s in self.subjects:
            for i, v in enumerate(s.versions):
                yield (s.name, v, s.stype, self.text(s, i), s.deleted[i],
                       s.schema_ids[i])

    def pick(self, rng: random.Random) -> Subject:
        """A subject with a live version, drawn by popularity."""
        while True:
            s = rng.choices(self.subjects,
                            cum_weights=self.cum_popularity)[0]
            if s.live_idx():
                return s

    # -- expected answers --------------------------------------------------

    def expect_latest(self, s: Subject):
        live = s.live_idx()
        i = live[-1]
        return (s.versions[i], self.text(s, i))

    def expect_history(self, s: Subject):
        return [(s.versions[i], self.text(s, i)) for i in s.live_idx()]

    def expect_search(self, term: str):
        t = norm_name(term)
        out = set()
        for s in self.subjects:
            for i in s.live_idx():
                for f in s.fields_at(i):
                    if norm_name(f.name) == t:
                        out.add((s.name, s.versions[i], f.name))
        return out

    def expect_statistics(self):
        out: dict[str, list] = {}
        for s in self.subjects:
            live = s.live_idx()
            if not live:
                continue
            e = out.setdefault(s.stype, [0, 0])
            e[0] += 1
            e[1] += len(live)
        return {k: tuple(v) for k, v in out.items()}

    def expect_similar(self, threshold: float):
        sets = {}
        for s in self.subjects:
            live = s.live_idx()
            if live:
                sets[s.name] = {norm_name(f.name)
                                for f in s.fields_at(live[-1])}
        names = sorted(sets)
        out = {}
        for ai, a in enumerate(names):
            sa = sets[a]
            for b in names[ai + 1:]:
                sb = sets[b]
                n = len(sa & sb)
                if not n:
                    continue
                j = n / float(len(sa) + len(sb) - n)
                if j >= threshold:
                    out[(a, b)] = round(j, 6)
        return out

    # -- planted changes ---------------------------------------------------

    def probe(self, s: Subject, kind: str,
              new: Field | None = None) -> tuple[str, str, dict]:
        """A new schema for ``s`` and its expected verdict per mode.

        kind: 'add_optional' | 'add_required' | 'strip_default'; ``new``
        is the field to add (default: an unused name, left unused).
        Returns (schema_text, schema_type, {mode: compatible})."""
        live = s.live_idx()
        latest = s.fields_at(live[-1])
        new = new or Field(s.extra[0] if s.extra
                           else f"attr_{s.next_tag + 1}", 0)
        if kind == "add_optional":
            return (render(s, latest + [new]), s.stype,
                    {"BACKWARD": True, "BACKWARD_TRANSITIVE": True})
        if kind == "add_required":
            if s.stype == "AVRO":
                txt = render(s, latest + [new], no_default=new.name)
            elif s.stype == "JSON":
                txt = render(s, latest + [new], required=new.name)
            else:
                txt = render(s, latest, swap=latest[-1].name)
            return (txt, s.stype,
                    {"BACKWARD": False, "BACKWARD_TRANSITIVE": False})
        # strip_default: Avro subjects whose latest live version is >= 2
        target = s.fields[s.base]          # the field version 2 added
        txt = render(s, latest, no_default=target.name)
        transitive_ok = not any(i == 0 for i in live)
        return (txt, s.stype,
                {"BACKWARD": True, "BACKWARD_TRANSITIVE": transitive_ok})
