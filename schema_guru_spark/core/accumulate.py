"""In-place derive+merge fusion — the executor hot path.

``accumulate(acc, value, ctx)`` is semantically identical to
``merge(acc, derive_sub(value, ctx), ctx)`` (law pinned by
tests/test_core_roundtrip.py::test_accumulate_equals_derive_merge) but
mutates the task-owned accumulator in place instead of materializing a
micro-schema dict per document and shallow-merging it. This roughly
halves Python allocations per document, which matters twice at scale:
per-doc CPU drops, and the reduced allocator/memory-bandwidth pressure
is what lets 32 concurrent Python workers actually scale (the pure
derive+merge path measured ~0.74 scaling efficiency per 4x cores on a
32-core box — allocator-bound, not GIL-bound).

OWNERSHIP CONTRACT: ``acc`` must be task-private and never aliased
(fresh ``{}`` per partition/bucket). The pure ``merge`` shares subtrees
between inputs, so never feed a dict into ``accumulate`` that is also
referenced elsewhere.

SEMANTICS CONTRACT: the accumulate==derive+merge law holds for the
COMMUTATIVE merge only; ``ctx.strict_reference_product`` (the
order-dependent reference-parity mode) is deliberately not honored
here — every distributed entry point rejects strict contexts
(operators/infer.py::_require_commutative), and sequential strict
parity goes through ``core.microschema.merge_all`` instead.
"""

from __future__ import annotations

from typing import Any

from schema_guru_spark.core.context import SchemaContext
from schema_guru_spark.core.formats import suggest_base64, suggest_format
from schema_guru_spark.core.microschema import (
    _int_as_num,
    _max_or_none,
    _merge_num,
    _min_or_none,
    construct_enum,
    merge as _merge,
    merge_enums,
)


def accumulate(acc: dict, value: Any, ctx: SchemaContext) -> dict:
    """Fold one JSON value into the accumulator state. Returns ``acc``
    (mutated). Semantics == merge(acc, derive_sub(value, ctx), ctx).

    Dispatch is on exact class identity (json/orjson emit exact builtin
    types), ordered by observed frequency — str first. ``bool`` is its
    own class in Python, so unlike the isinstance ladder no bool-before-
    int ordering hazard exists. Unknown classes fall through to a
    TypeError like the pure path."""
    t = value.__class__
    if t is str:
        ln = len(value) if ctx.derive_length else None
        st = acc.get("str")
        if st is None:
            acc["str"] = {
                "format": suggest_format(value),
                "pattern": suggest_base64(value, ctx.quantity),
                "min_len": ln, "max_len": ln,
                "enum": construct_enum(value, ctx),
            }
        else:
            # inlined _eq_or_none / _min_or_none / _max_or_none
            # (JsonSchema.scala:141-163 None-absorbing semantics).
            # TOMBSTONE SKIP: once format/pattern has merged to None it
            # can never leave None (eq-or-none absorbs), so the
            # detector chain is skipped entirely — on heterogeneous
            # string keys (most keys in real corpora tombstone on the
            # first disagreeing doc) this removes the regex/prefilter
            # work from the per-doc hot loop. Exactly equivalent: the
            # old code computed fmt and then set None either way.
            fmt_cur = st["format"]
            if fmt_cur is not None and fmt_cur != suggest_format(value):
                st["format"] = None
            pat_cur = st["pattern"]
            if pat_cur is not None and \
                    pat_cur != suggest_base64(value, ctx.quantity):
                st["pattern"] = None
            ml = st["min_len"]
            if ml is None or ln is None:
                st["min_len"] = None
            elif ln < ml:
                st["min_len"] = ln
            mx = st["max_len"]
            if mx is None or ln is None:
                st["max_len"] = None
            elif ln > mx:
                st["max_len"] = ln
            if not ctx.enum_disabled:
                st["enum"] = merge_enums(st["enum"],
                                         construct_enum(value, ctx), ctx)
        return acc
    if t is dict:
        obj = acc.get("obj")
        if obj is None:
            obj = {"props": {}}
            acc["obj"] = obj
        props = obj["props"]
        for k, v in value.items():
            child = props.get(k)
            if child is None:
                child = {}
                props[k] = child
            accumulate(child, v, ctx)
        return acc
    if t is int:
        # enum machinery skipped entirely when it can never fire
        # (cardinality 0, no predefined sets) — ctx.enum_disabled is a
        # cached flag, construct_enum/merge_enums are no-ops then
        en = None if ctx.enum_disabled else construct_enum(value, ctx)
        num = acc.get("num")
        if num is not None:
            # int ⊕ num -> num, value widened (NumberSchema.scala:54-61).
            v = float(value)
            num["min"] = _min_or_none(num["min"], v)
            num["max"] = _max_or_none(num["max"], v)
            if en is not None or num["enum"] is not None:
                num["enum"] = merge_enums(en, num["enum"], ctx)
            return acc
        it = acc.get("int")
        if it is None:
            acc["int"] = {"min": value, "max": value, "enum": en}
        else:
            mn = it["min"]
            if mn is not None and value < mn:
                it["min"] = value
            mx = it["max"]
            if mx is not None and value > mx:
                it["max"] = value
            if en is not None or it["enum"] is not None:
                it["enum"] = merge_enums(it["enum"], en, ctx)
        return acc
    if t is bool:
        acc["bool"] = True
        return acc
    return _accumulate_cold(acc, value, ctx, t)


def _accumulate_cold(acc: dict, value: Any, ctx: SchemaContext,
                     t: type) -> dict:
    """Rarer kinds (list/float/null) + isinstance fallback for subclass
    instances handed in by non-JSON callers."""
    if t is not list and t is not float and value is not None:
        # subclass of a builtin (e.g. collections.OrderedDict): re-enter
        # via the original isinstance semantics
        if isinstance(value, bool):
            acc["bool"] = True
            return acc
        if isinstance(value, dict):
            return accumulate(acc, dict(value), ctx)
        if isinstance(value, list):
            value = list(value)
        elif isinstance(value, str):
            return accumulate(acc, str(value), ctx)
        elif isinstance(value, int):
            return accumulate(acc, int(value), ctx)
        elif isinstance(value, float):
            value = float(value)
        else:
            raise TypeError(f"not a JSON value: {type(value)!r}")
    if isinstance(value, list):
        # mimic derivation exactly: array literal elements are pre-merged
        # into a FRESH sub-schema first (jArrayListProcessor suml,
        # SchemaGenerator.scala:136-149), and that sub-schema merges into
        # the accumulator as a unit. Streaming elements straight into the
        # existing state would change enum-tombstone outcomes (the concat
        # -size check sees different list lengths).
        arr = acc.get("arr")
        if ctx.enum_disabled and arr is not None:
            # no-enum fast path: with no enum state the merge is
            # pointwise associative+commutative, so folding elements
            # directly into the existing items state == merging a
            # pre-merged fresh sub-schema — skips a dict + merge per
            # array (law covered by test_accumulate_equals_derive_merge)
            items = arr["items"]
            for elem in value:
                accumulate(items, elem, ctx)
            return acc
        fresh: dict = {}
        for elem in value:
            accumulate(fresh, elem, ctx)
        if arr is None:
            acc["arr"] = {"items": fresh}
        else:
            arr["items"] = _merge(arr["items"], fresh, ctx)
        return acc
    if isinstance(value, float):
        value = float(value)
        if value == 0.0:
            # signed-zero normalization, exactly as annotate_number:
            # -0.0 entering min/max would make tie-keeping order-visible
            value = 0.0
        en = construct_enum(value, ctx)
        it = acc.pop("int", None)
        num = acc.get("num")
        if num is None and it is not None:
            # existing int slot widens to num (ProductSchema.scala:90-95)
            num = _int_as_num(it)
            acc["num"] = num
        elif num is None:
            acc["num"] = {"min": value, "max": value, "enum": en}
            return acc
        elif it is not None:
            acc["num"] = num = _merge_num(_int_as_num(it), num, ctx)
        num["min"] = _min_or_none(num["min"], value)
        num["max"] = _max_or_none(num["max"], value)
        num["enum"] = merge_enums(num["enum"], en, ctx)
        return acc
    if value is None:
        acc["null"] = True
        return acc
    raise TypeError(f"not a JSON value: {type(value)!r}")


def gate_error_message(value: Any) -> str:
    """The reference's scalar-instance rejection message
    (SchemaGenerator.scala:54-59), shared by the per-value and batch
    paths so violation payloads stay byte-identical."""
    import json as _json
    compact = _json.dumps(value, separators=(",", ":"))
    return ("JSON instances must contain only objects or arrays. "
            f"{compact[:32]} is unacceptable")


def accumulate_doc(acc: dict, value: Any, ctx: SchemaContext) -> dict:
    """Top-level gate variant (objects/arrays only) — the hot-path twin
    of ``derive`` + merge. Raises ValueError with the reference's message
    for scalar instances (SchemaGenerator.scala:54-59)."""
    if not isinstance(value, (dict, list)):
        raise ValueError(gate_error_message(value))
    return accumulate(acc, value, ctx)
