"""Columnar batch fold — the executor hot path.

``fold_keyed(texts, keys, ctx)`` is the one parse -> gate -> fold
kernel every map-side host runs: global inference (no key), keyed
inference (per key), the validation scan pass (per bucket) and the
keyed schema stream (per group). It feeds ``fold_docs``.

``fold_docs(acc, docs, ctx)`` is semantically identical to

    for d in docs: accumulate_doc(acc, d, ctx)

(law pinned by tests/test_core_roundtrip.py, hypothesis-driven exact
dict equality) but transposes each batch of parsed documents into
per-key value columns first, then folds each column with bulk
operations:

  * lengths/min/max over a string column run as one ``map(len)`` +
    C-level ``min``/``max`` instead of a Python branch per value;
  * int/num range updates are one ``min``/``max`` per column;
  * the format/pattern eq-or-none fold short-circuits at the FIRST
    disagreeing value in the column (the per-value kernel can only
    tombstone-skip from the next document on) — on heterogeneous keys
    the whole column's detector work collapses to one mismatch;
  * the per-value recursion survives only for containers, so the
    Python call count drops from O(total JSON leaves) to
    O(distinct keys x batches + containers).

Measured on the synthetic validation doc mix (nested object, ~14
leaves): 1.6x over ``accumulate`` (see BENCH/REGRESSION_r04.md).

DOMAIN: commutative contexts with the enum machinery off
(``ctx.enum_disabled``) — exactly the distributed inference/validation
default (SchemaContext.make(0)). Enum candidates count value
multiplicities through an order-sensitive concat-size check per value,
which a bulk fold cannot reorder safely, so enum-enabled contexts fall
back to the per-value kernel (same results, prior speed). Strict
reference-product contexts are rejected by every distributed entry
point before reaching here (operators/infer.py::_require_commutative).

OWNERSHIP CONTRACT: same as ``accumulate`` — ``acc`` must be
task-private, never aliased.

Reference semantics: the fold is derive+merge per
SchemaGenerator.scala:136-222 / JsonSchema.scala:141-163, composed
over a batch; column order within a batch is immaterial because the
enum-free merge is pointwise associative + commutative.
"""

from __future__ import annotations

from typing import Any

import ipaddress
from datetime import datetime

import re

import numpy as np
import pandas as pd

from schema_guru_spark.core import json_fast
from schema_guru_spark.core.accumulate import (
    accumulate,
    accumulate_doc,
    gate_error_message,
)
from schema_guru_spark.core.context import SchemaContext
from schema_guru_spark.core.formats import (
    IPV4_RE,
    URL_FULL_RE,
    UUID_RE,
    suggest_base64,
    suggest_format,
)


# shape prefilter for the date-time column verifier (see _fmt_survives)
_DT_SHAPE_RE = re.compile(r"[0-9]{4}-[0-9]{2}-[0-9]{2}[T ]")


def _enum_order_sensitive(ctx: SchemaContext) -> bool:
    """True when the enum machinery is live. The reference's enum merge
    checks size on the CONCATENATION before distinct
    (SchemaWithEnum.scala:57-70, pinned by
    test_concat_size_check_precedes_distinct), which is neither
    commutative nor associative — merging partial states in task-
    completion order would make the inferred enums depend on the
    scheduler. Such contexts fold rows in ROW order within a batch
    (``fold_keyed``) and partial states in PARTITION ORDER on the
    driver instead of through the combine tree: the result is
    deterministic for a fixed input partitioning (the reference's own
    Spark job folds the same non-commutative merge through
    RDD.aggregate with no ordering guarantee at all,
    SchemaGuruRDD.scala:44-60)."""
    return ctx.enum_cardinality > 0 or bool(ctx.enum_sets)


def fold_keyed(texts, keys, ctx: SchemaContext,
               states: dict | None = None, counts: dict | None = None, *,
               loads=json_fast.loads, ctx_by_key: dict | None = None):
    """Parse, gate and fold one batch of JSON texts into per-key
    accumulators. ``keys`` is an array aligned with ``texts``, or None
    (every row has key None). NULL keys are the key None.

    Unique-document fast path: texts are ``pd.factorize``d once and each
    DISTINCT text is parsed once (``loads``, injectable so tests can
    count calls) and gated once (objects/arrays only, the reference's
    message for scalars — ``gate_error_message``). One ``np.unique``
    over a fused (key, text) code gives each pair's multiplicity; a doc
    seen n >= 2 times under a key enters that key's batch twice (the
    monoid stabilizes after one self-merge — test_merge_self_stabilizes)
    and each key's batch folds through ``fold_docs``. JSON-bearing
    corpora are heavily duplicated, so this cuts the per-doc Python
    work from O(rows) to O(distinct (key, doc)). Enum-bearing contexts
    fold every row in row order instead (see ``_enum_order_sensitive``):
    the collapse reorders documents.

    ``ctx_by_key`` maps a key to the context its documents fold under
    (segmented mode's per-segment ``quantity``). ``states`` and
    ``counts`` are folded into in place when given — task-private
    accumulators carried across batches.

    Returns ``(states, counts, errors)``: key -> accumulator (keys with
    at least one valid doc), key -> [n_ok, n_err] (every key seen), and
    one ``(row, key, message)`` per failing row, in row order.
    """
    states = {} if states is None else states
    counts = {} if counts is None else counts
    codes, uniques = pd.factorize(texts, use_na_sentinel=True)
    # slot 0 is the NULL text, slot c + 1 the distinct text c
    values: list = [None]
    msgs: list = ["null content"]
    for text in uniques:
        try:
            value = loads(text)
        except (ValueError, TypeError) as e:
            values.append(None)
            msgs.append(f"invalid JSON: {e}")
            continue
        values.append(value)
        msgs.append(None if isinstance(value, (dict, list))
                    else gate_error_message(value))
    slots = codes + 1
    if keys is None:
        kcodes = np.zeros(len(slots), dtype=slots.dtype)
        kvals: list = [None]
    else:
        kcodes, kuniq = pd.factorize(keys, use_na_sentinel=True)
        kvals = kuniq.tolist() + [None]
        kcodes = np.where(kcodes < 0, len(kuniq), kcodes)
    width = len(msgs)
    fused = kcodes * width + slots
    if _enum_order_sensitive(ctx):
        # ROW ORDER: the (key, doc) collapse lists a key's documents in
        # first-appearance order with duplicates adjacent, which changes
        # order-sensitive enum merges. Parsing stays once per text.
        pairs = zip(fused.tolist(), [1] * len(fused))
    else:
        ukey, mult = np.unique(fused, return_counts=True)
        pairs = zip(ukey.tolist(), mult.tolist())
    docs: dict = {}
    for f, n in pairs:
        kc, slot = divmod(f, width)
        key = kvals[kc]
        c = counts.get(key)
        if c is None:
            c = counts[key] = [0, 0]
        if msgs[slot] is not None:
            c[1] += n
            continue
        c[0] += n
        batch = docs.get(key)
        if batch is None:
            batch = docs[key] = []
        batch.append(values[slot])
        if n > 1:
            batch.append(values[slot])
    for key, batch in docs.items():
        st = states.get(key)
        if st is None:
            st = states[key] = {}
        fold_docs(st, batch, ctx if ctx_by_key is None
                  else ctx_by_key.get(key, ctx))
    bad = np.array([m is not None for m in msgs])
    rows = np.flatnonzero(bad[slots])
    errors = [(i, kvals[kc], msgs[slot]) for i, kc, slot in
              zip(rows.tolist(), kcodes[rows].tolist(),
                  slots[rows].tolist())]
    return states, counts, errors


def fold_docs(acc: dict, docs: list, ctx: SchemaContext) -> dict:
    """Fold a batch of gate-checked documents (each a dict or list)
    into ``acc``. Returns ``acc`` (mutated). Callers gate top-level
    kinds themselves (scalar instances are per-document errors with the
    reference's message — see ``accumulate_doc``)."""
    if not ctx.enum_disabled:
        for d in docs:
            accumulate_doc(acc, d, ctx)
        return acc
    _fold_column(acc, docs, ctx)
    return acc


def _fold_column(acc: dict, vals: list, ctx: SchemaContext) -> None:
    """Fold a column of JSON values (any class mix) into one
    accumulator node.

    Homogeneous fast path: real corpora keep a stable type per key, so
    one C-level ``set(map(type, vals))`` pass (measured ~2.5ms/40k vs
    ~12ms for the dispatch loop it replaces) routes the whole column to
    its kind-fold directly, skipping the per-value branch + append.
    ``type`` is exact-class (bool never aliases int), matching the
    dispatch ladder below."""
    kinds = set(map(type, vals))
    if len(kinds) == 1:
        t = kinds.pop()
        if t is str:
            _fold_strs(acc, vals, ctx)
            return
        if t is dict:
            _fold_dicts(acc, vals, ctx)
            return
        if t is int:
            _fold_ints(acc, vals)
            return
        if t is bool:
            acc["bool"] = True
            return
        if t is type(None):
            acc["null"] = True
            return
        if t is list:
            arr = acc.get("arr")
            if arr is None:
                arr = acc["arr"] = {"items": {}}
            if len(vals) == 1:
                flat = vals[0]
            else:
                flat = []
                for lst in vals:
                    flat.extend(lst)
            if flat:
                _fold_column(arr["items"], flat, ctx)
            return
        # float (stateful int->num widening) and foreign classes: the
        # per-value kernel below stays authoritative
    strs: list | None = None
    ints: list | None = None
    dicts: list | None = None
    lists: list | None = None
    floats: list | None = None
    saw_bool = False
    saw_null = False
    for v in vals:
        t = v.__class__
        if t is str:
            if strs is None:
                strs = []
            strs.append(v)
        elif t is dict:
            if dicts is None:
                dicts = []
            dicts.append(v)
        elif t is bool:
            saw_bool = True
        elif t is int:
            if ints is None:
                ints = []
            ints.append(v)
        elif t is list:
            if lists is None:
                lists = []
            lists.append(v)
        elif t is float:
            if floats is None:
                floats = []
            floats.append(v)
        elif v is None:
            saw_null = True
        else:
            # builtin subclass or foreign type: the per-value kernel
            # owns that semantics (coerce-or-TypeError)
            accumulate(acc, v, ctx)
    if strs is not None:
        _fold_strs(acc, strs, ctx)
    if floats is not None:
        # rare in JSON-bearing corpora; int->num widening is stateful
        # (pops the int slot), keep the per-value kernel authoritative
        for v in floats:
            accumulate(acc, v, ctx)
    if ints is not None:
        _fold_ints(acc, ints)
    if saw_bool:
        acc["bool"] = True
    if saw_null:
        acc["null"] = True
    if dicts is not None:
        _fold_dicts(acc, dicts, ctx)
    if lists is not None:
        # enum-off fast path of the per-value kernel (accumulate.py):
        # elements fold straight into the shared items state — the
        # enum-free merge is pointwise assoc+comm, so element order and
        # array boundaries are immaterial
        arr = acc.get("arr")
        if arr is None:
            arr = acc["arr"] = {"items": {}}
        if len(lists) == 1:
            flat = lists[0]
        else:
            flat = []
            for lst in lists:
                flat.extend(lst)
        if flat:
            _fold_column(arr["items"], flat, ctx)


def _fold_dicts(acc: dict, dicts: list, ctx: SchemaContext) -> None:
    obj = acc.get("obj")
    if obj is None:
        obj = acc["obj"] = {"props": {}}
    props = obj["props"]
    cols = _transpose(dicts)
    for k, col in cols.items():
        child = props.get(k)
        if child is None:
            child = props[k] = {}
        _fold_column(child, col, ctx)


def _transpose(dicts: list) -> dict:
    """Batch of dicts -> {key: [values]}. Stable-key fast path: when
    every dict has the first dict's exact key set (one C-level length
    scan + KeyError backstop — equal sizes + superset of keys0 ==
    equal sets), transpose with one per-key list comprehension
    (measured 1.86x over the nested append loop). Key order of the
    result is first-dict order on the fast path, first-seen order on
    the fallback — immaterial, the enum-free merge is pointwise
    commutative and props is an unordered map."""
    first = dicts[0]
    nk = len(first)
    if set(map(len, dicts)) == {nk}:
        try:
            return {k: [d[k] for d in dicts] for k in first}
        except KeyError:
            pass  # same sizes but divergent keys: general path
    cols: dict[Any, list] = {}
    for d in dicts:
        for k, v in d.items():
            b = cols.get(k)
            if b is None:
                b = cols[k] = []
            b.append(v)
    return cols


def _fold_strs(acc: dict, vals: list, ctx: SchemaContext) -> None:
    qty = ctx.quantity
    st = acc.get("str")
    i = 0
    if st is None:
        v0 = vals[0]
        ln0 = len(v0) if ctx.derive_length else None
        st = acc["str"] = {
            "format": suggest_format(v0),
            "pattern": suggest_base64(v0, qty),
            "min_len": ln0, "max_len": ln0,
            "enum": None,  # ctx.enum_disabled on this path
        }
        i = 1
        if len(vals) == 1:
            return
    rest = vals[i:] if i else vals
    if ctx.derive_length:
        # None-absorbing min/max (JsonSchema.scala:141-163): once None
        # (derive_length off elsewhere), stays None
        if st["min_len"] is not None:
            lens = list(map(len, rest))
            mn = min(lens)
            mx = max(lens)
            if mn < st["min_len"]:
                st["min_len"] = mn
            if mx > st["max_len"]:
                st["max_len"] = mx
    else:
        st["min_len"] = None
        st["max_len"] = None
    fmt = st["format"]
    if fmt is not None and not _fmt_survives(fmt, rest):
        st["format"] = None
    pat = st["pattern"]
    if pat is not None:
        for v in rest:
            if suggest_base64(v, qty) != pat:
                st["pattern"] = None
                break


def _fmt_survives(fmt: str, vals: list) -> bool:
    """True iff ``suggest_format(v) == fmt`` for EVERY v — the column
    keeps its format annotation (eq-or-none, JsonSchema.scala:161-163).

    Per-format verifiers replace re-running the whole priority chain
    per value (measured 1.5x on format-stable columns — uuid/timestamp/
    url keys in real corpora never tombstone, so this loop runs over
    every value of every batch). Equivalence to the chain rests on the
    five formats being pairwise disjoint — a value matching THIS fmt's
    detector can never match a higher-priority one (uuid needs '-' at
    8/13 which no date/ip/url shape allows; date needs '-' at 4 which
    hex, dotted-quads, schemes and ipv6 literals all exclude; ipv4
    excludes ':'; ipv6 literals exclude '-' and '/'; uri starts with a
    scheme) — law-pinned against suggest_format by
    test_core_roundtrip.py::test_fmt_survives_equals_chain.

    Quirk preserved deliberately: the scalar detectors run ``.match``
    with ``$`` anchors, so a single trailing newline is tolerated
    wherever the length prefilter allows it (ipv4 <= 15 chars, uri);
    uuid's exact len==36 check excludes it. The verifiers reproduce
    that, not an idealized strictness."""
    if fmt == "uuid":
        # fullmatch == (.match AND len == 36): the pattern is exactly 36
        # chars between its anchors, and the len check existed only to
        # exclude $'s trailing-newline tolerance — which fullmatch's
        # true-end anchoring already does. One C pass instead of two.
        return all(map(UUID_RE.fullmatch, vals))
    if fmt == "date-time":
        # shape prefilter as ONE C-level regex pass (measured 1.65x over
        # the per-value char checks): .match of [0-9]{4}-..-..[T ] at
        # position 10 implies len > 10 and every old condition; [0-9] is
        # strictly narrower than str.isdigit (which also accepts
        # non-ASCII digits), but any such value fails fromisoformat —
        # the final authority on both paths — so outcomes agree
        # (law-pinned: test_fmt_survives_equals_chain).
        if not all(map(_DT_SHAPE_RE.match, vals)):
            return False
        try:
            # datetime is always truthy: all() just drains the C map
            return all(map(datetime.fromisoformat,
                           [s.replace("Z", "+00:00") for s in vals]))
        except ValueError:
            return False
    if fmt == "ipv4":
        return all(map(IPV4_RE.match, vals)) and max(map(len, vals)) <= 15
    if fmt == "uri":
        return all(map(URL_FULL_RE.match, vals))
    if fmt == "ipv6":
        v6 = ipaddress.IPv6Address
        for s in vals:
            if ":" not in s or "/" in s or s.count(":") < 2:
                return False
            try:
                v6(s)
            except ValueError:
                return False
        return True
    # unreachable from suggest_format's label set; stay semantics-safe
    return all(suggest_format(v) == fmt for v in vals)


def _fold_ints(acc: dict, vals: list) -> None:
    mn = min(vals)
    mx = max(vals)
    num = acc.get("num")
    if num is not None:
        # int ⊕ num -> num, widened (NumberSchema.scala:54-61),
        # None-absorbing bounds
        if num["min"] is not None:
            v = float(mn)
            if v < num["min"]:
                num["min"] = v
        if num["max"] is not None:
            v = float(mx)
            if v > num["max"]:
                num["max"] = v
        return
    it = acc.get("int")
    if it is None:
        acc["int"] = {"min": mn, "max": mx, "enum": None}
        return
    if it["min"] is not None and mn < it["min"]:
        it["min"] = mn
    if it["max"] is not None and mx > it["max"]:
        it["max"] = mx
