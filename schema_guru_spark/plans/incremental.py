"""Incremental re-validation of a growing Iceberg table.

The north rule's job is resumable *within* a run (per-bucket
checkpoint manifest, plans/checkpoint.py). This module makes it
resumable *across table growth*: after a daily append to a 10^12-file
table, re-validation must plan and read ONLY the appended files —
never re-list or re-scan the petabytes already validated.

Design (all state lives under one checkpoint directory):

  table_state.json           {table_uuid, snapshot_id, epoch,
                              windows, params} — params pins the
                              run's n_buckets/n_salts/max_err_rate/
                              allowed_langs/partition_filter; later
                              runs must match or the per-bucket
                              counter sums would silently mix
                              incompatible bucket memberships
  e000-snap-0-S1/            baseline delta: full validation @ S1
  e000-snap-S1-S2/           appended rows in (S1, S2]
  ...                        one sub-checkpoint per validated delta
  e001-.../                  new epoch after a rebase (see below)

Each delta is validated by the ordinary ``validate_repo_table`` with
its own sub-checkpoint (so a killed delta run resumes mid-delta), with
``keep_state=True`` so the per-bucket verdict rows carry the raw
schema-monoid state. Cumulative results are then EXACT, not
re-scanned:

  * counters (rows / json ok / err / sha / lang) sum per bucket;
    the per-bucket pass verdict is recomputed from the summed
    counters under the same rule the scan applies;
  * the merged schema per bucket (and globally) is the monoid merge
    of the deltas' serialized states — commutative, so delta order
    cannot matter; the rendered schema alone could NOT be re-merged
    (enum cutoff and range encasing are lossy);
  * table-wide key uniqueness uses mergeable HLL sketches
    (``hll_sketch_agg`` over a 64-bit key hash, one tiny row per
    delta): cumulative estimate = ``hll_union_agg`` across deltas vs
    the exact summed row count — the north_star's "HLL++ vs exact
    count" check, made incremental. (Per-delta exact distincts do
    not sum; sketches do.)

Per-call job budget. One incremental call over a one-chunk delta
launches 14 Spark jobs, however long the committed chain is: the
delta's schema read (1), the scan pass into the violation sink (1), the
bucket combine collected to the driver (2), the verdict sink and the
manifest append (2, both written from driver-held rows), the delta
report (1), the violation count (2), the key sketch (2), the cumulative
verdict collect (1) and the sketch union (2). Every sink the engine
wrote is read back with its known schema, so no read runs a
footer-inference job, and no sink is re-read to build metrics the
driver already holds. Each further chunk adds the 5 per-chunk jobs.

A non-append snapshot (delete / overwrite) in the window makes
"the new rows" ill-defined (rows also vanished), so
``plan_incremental`` refuses. Policy here: ``on_nonappend="error"``
(default) surfaces it; ``"rebase"`` starts a new epoch — a fresh full
validation of the current snapshot whose cumulative view supersedes
the previous epoch's (prior epochs stay on disk for audit).

No reference counterpart: schema-guru re-derives from the full input
every run (SchemaGuruRDD.scala:44-60 re-reads the whole path).
"""

from __future__ import annotations

import json
import os
import time
from functools import reduce
from typing import Any, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

_STATE_FILE = "table_state.json"
_UNIQ_SCHEMA = "n_rows bigint, sketch binary"


def _state_path(checkpoint_dir: str) -> str:
    return os.path.join(checkpoint_dir, _STATE_FILE)


def _load_state(checkpoint_dir: str) -> Optional[dict]:
    p = _state_path(checkpoint_dir)
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        return json.load(fh)


def _save_state(checkpoint_dir: str, state: dict) -> None:
    os.makedirs(checkpoint_dir, exist_ok=True)
    tmp = _state_path(checkpoint_dir) + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(state, fh, sort_keys=True)
    os.replace(tmp, _state_path(checkpoint_dir))  # atomic commit


# NOTE on crash consistency: the state file is the COMMIT POINT. A
# delta directory that exists on disk but is not in the committed
# ``windows`` list is an in-flight or superseded window (job died
# between writing the delta and committing the state, and the next
# window may have widened past it) — cumulative accounting must read
# ONLY the committed chain, or rows double-count.


def _key_hash() -> "F.Column":
    # 64-bit key hash for the HLL sketch: collisions only DEFLATE the
    # distinct estimate, by ~n^2/2^65 expected keys — ~27 at 10^12
    # rows, i.e. 1e-11 relative, invisible next to the sketch's own
    # ~1-2% error
    return F.xxhash64(F.lit(0x1CEB), "repo", "path", "commit")


def _write_uniq_sketch(delta_dir: str, df: DataFrame,
                       n_rows: int) -> None:
    """Second pass over the delta for the mergeable key sketch — but a
    NARROW one: only the three key columns are selected, so the
    column-pruned parquet scan never touches ``content`` (the corpus
    payload, ~95% of the bytes). The row count is NOT recounted — the
    validation scan already summed it exactly; it rides along as a
    literal. (Folding the sketch into the validation scan itself would
    widen its Arrow projection with path+commit for every row, or
    require a Python-side HLL mergeable with Spark's hll_union_agg,
    which does not exist — the key-only second scan is the cheaper
    shape at scale.)"""
    (df.select(_key_hash().alias("h"))
       .agg(F.lit(n_rows).cast("long").alias("n_rows"),
            F.hll_sketch_agg("h").alias("sketch"))
       .coalesce(1)
       .write.mode("overwrite").parquet(os.path.join(delta_dir, "uniq")))


def _run_params(n_buckets: int, n_salts: int, max_err_rate: float,
                allowed_langs: Sequence[str],
                partition_filter: Optional[dict]) -> dict:
    """The parameters that define what the per-bucket counters MEAN.
    Deltas validated under different values are not summable: a changed
    n_buckets/n_salts redraws bucket membership (same bucket id,
    different rows), a changed partition_filter redefines which rows
    'whole table' covers, allowed_langs changes what counts as a
    violation, max_err_rate changes each delta's recorded verdicts. All
    are pinned in table_state.json on the first commit; later runs must
    match (ADVICE r04).

    The dict is compared against a JSON-round-tripped prior, so every
    value must be in JSON-canonical form already: collection-valued
    partition_filter entries (the read path accepts list/tuple/set
    alike) become sorted lists — otherwise a tuple filter would
    spuriously mismatch its own saved list form on the second run, and
    a set would crash json.dump after the validation scan had already
    been paid for."""
    canon_filter = None
    if partition_filter is not None:
        canon_filter = {
            k: (sorted(v, key=repr)
                if isinstance(v, (list, tuple, set, frozenset)) else v)
            for k, v in partition_filter.items()
        }
    return {
        "n_buckets": n_buckets, "n_salts": n_salts,
        "max_err_rate": max_err_rate,
        "allowed_langs": sorted(allowed_langs),
        "partition_filter": canon_filter,
    }


def incremental_validate(
    spark: SparkSession,
    table_path: str,
    checkpoint_dir: str,
    *,
    n_buckets: int = 64,
    n_salts: int = 8,
    chunk_size: Optional[int] = None,
    max_err_rate: float = 0.0,
    allowed_langs: Optional[Sequence[str]] = None,
    partition_filter: Optional[dict] = None,
    on_nonappend: str = "error",
    uniq_tolerance: float = 0.05,
) -> dict:
    """Validate whatever appeared in ``table_path`` since the last
    call that used this ``checkpoint_dir``; first call validates the
    whole current snapshot. Returns a report with ``delta`` (this
    call's work) and ``cumulative`` (exact whole-table view merged
    from every delta of the active epoch).
    """
    from schema_guru_spark.pipeline import (DEFAULT_LANGS,
                                            validate_repo_table)
    from schema_guru_spark.sources.iceberg_meta import (
        load_table_metadata, read_iceberg, read_iceberg_incremental)

    if on_nonappend not in ("error", "rebase"):
        raise ValueError(f"on_nonappend={on_nonappend!r}: "
                         "expected 'error' or 'rebase'")
    allowed_langs = tuple(allowed_langs or DEFAULT_LANGS)

    meta = load_table_metadata(table_path)
    cur = meta.get("current-snapshot-id")
    if cur in (None, -1):
        raise LookupError(f"{table_path}: empty table, no snapshot")
    uuid = meta["table-uuid"]

    state = _load_state(checkpoint_dir)
    if state is not None and state["table_uuid"] != uuid:
        raise ValueError(
            f"checkpoint {checkpoint_dir} belongs to table "
            f"{state['table_uuid']}, not {uuid} — the cumulative "
            "accounting would silently mix two tables")
    params = _run_params(n_buckets, n_salts, max_err_rate,
                         allowed_langs, partition_filter)
    if state is not None:
        prior_params = state.get("params")
        if prior_params is not None and prior_params != params:
            diff = {k for k in params
                    if prior_params.get(k) != params[k]}
            raise ValueError(
                f"checkpoint {checkpoint_dir} was built with different "
                f"validation parameters ({', '.join(sorted(diff))}): "
                f"{prior_params} vs {params} — per-bucket counters from "
                "deltas validated under different parameters are not "
                "summable (same guard class as table_uuid). Use a new "
                "checkpoint dir, or rerun with the pinned values.")

    epoch = state["epoch"] if state else 0
    frm = state["snapshot_id"] if state else None
    mode, delta_df = "baseline", None
    if state is None:
        delta_df = read_iceberg(spark, table_path, snapshot_id=cur,
                                partition_filter=partition_filter)
    elif frm == cur:
        mode = "up-to-date"
    else:
        try:
            delta_df = read_iceberg_incremental(
                spark, table_path, frm, to_snapshot_id=cur,
                partition_filter=partition_filter)
            mode = "incremental"
        except NotImplementedError:
            if on_nonappend == "error":
                raise
            # rebase: new epoch, full validation of the current
            # snapshot; the old epoch's deltas stay on disk for audit
            epoch += 1
            mode = "rebase"
            frm = None  # the new window is a full scan, not (frm, cur]
            delta_df = read_iceberg(spark, table_path, snapshot_id=cur,
                                    partition_filter=partition_filter)

    delta_report: dict[str, Any] = {"rows": 0, "buckets": 0,
                                    "buckets_passed": 0,
                                    "n_violation_rows": 0,
                                    "resumed_buckets": 0}
    if delta_df is not None:
        label = f"e{epoch:03d}-snap-{frm or 0}-{cur}"
        delta_dir = os.path.join(checkpoint_dir, label)
        res = validate_repo_table(
            spark, delta_df, checkpoint_dir=delta_dir,
            n_buckets=n_buckets, n_salts=n_salts,
            chunk_size=chunk_size, allowed_langs=allowed_langs,
            max_err_rate=max_err_rate, keep_state=True)
        # one verdict row per bucket: summed on the driver, which saves
        # a global aggregate's shuffle
        rows = res.verdicts.select("n_rows", "n_json_ok", "n_json_err",
                                   "n_sha_bad", "passed").collect()
        n_rows = sum(r["n_rows"] for r in rows)
        _write_uniq_sketch(delta_dir, delta_df, n_rows)
        delta_report = {
            "rows": n_rows,
            "json_ok": sum(r["n_json_ok"] for r in rows),
            "json_err": sum(r["n_json_err"] for r in rows),
            "sha_bad": sum(r["n_sha_bad"] for r in rows),
            "buckets": len(rows),
            "buckets_passed": sum(1 for r in rows if r["passed"]),
            "n_violation_rows": res.violations.count(),
            "resumed_buckets": len(res.resumed_buckets),
        }
        prior = (state.get("windows", []) if state is not None
                 and mode == "incremental" else [])
        _save_state(checkpoint_dir, {
            "table_uuid": uuid, "snapshot_id": cur, "epoch": epoch,
            "windows": prior + [label], "params": params,
            "updated_at": time.time()})

    report = {
        "mode": mode, "table_uuid": uuid,
        "from_snapshot": frm, "to_snapshot": cur, "epoch": epoch,
        "delta": delta_report,
        "cumulative": cumulative_report(
            spark, checkpoint_dir,
            max_err_rate=max_err_rate,
            uniq_tolerance=uniq_tolerance),
    }
    return report


def cumulative_report(spark: SparkSession, checkpoint_dir: str,
                      *, max_err_rate: float = 0.0,
                      uniq_tolerance: float = 0.05) -> dict:
    """Exact whole-table view from the committed window chain's delta
    sinks: per-bucket counter sums + recomputed verdicts, monoid-merged
    schema, HLL-union uniqueness vs exact summed rows. Touches only
    checkpoint metadata (KBs), never the table."""
    from schema_guru_spark.core.context import SchemaContext
    from schema_guru_spark.core.microschema import ZERO, loads, merge, render
    from schema_guru_spark.core.transforms import apply_transforms
    from schema_guru_spark.pipeline import (_VERDICT_SCHEMA_STATE,
                                            bucket_passed)

    state = _load_state(checkpoint_dir)
    if state is None:
        raise LookupError(f"{checkpoint_dir}: no validation state")
    dirs = [os.path.join(checkpoint_dir, w)
            for w in state.get("windows", [])]
    if not dirs:
        return {"n_deltas": 0, "rows": 0, "buckets": 0,
                "buckets_passed": 0, "pass_rate": 1.0}

    # one read per delta (each verdicts sink has its own chunk=N
    # partition layout; a multi-root read trips partition discovery),
    # each with the schema the engine wrote it under: no footer-inference
    # job per committed window
    counters = ("n_rows", "n_json_ok", "n_json_err", "n_sha_bad",
                "n_lang_bad")
    verdicts = reduce(DataFrame.unionByName, [
        spark.read.schema(_VERDICT_SCHEMA_STATE)
             .option("basePath", os.path.join(d, "verdicts"))
             .parquet(os.path.join(d, "verdicts"))
             .select("bucket", *counters, "state")
        for d in dirs])
    # ONE collect of <= n_deltas * n_buckets tiny rows: counters sum per
    # bucket and the raw states monoid-merge (commutative, so delta order
    # cannot matter) on the driver, the same fan-in shape as the infer
    # operators' final combine
    ctx = SchemaContext.make(0)
    sums: dict[int, dict] = {}
    by_bucket: dict[int, dict] = {}
    glob = ZERO
    for r in verdicts.collect():
        b = r["bucket"]
        c = sums.setdefault(b, dict.fromkeys(counters, 0))
        for k in counters:
            c[k] += r[k]
        st = loads(r["state"])
        by_bucket[b] = merge(by_bucket.get(b, ZERO), st, ctx)
        glob = merge(glob, st, ctx)
    global_schema = render(apply_transforms(glob, ctx), ctx)

    uniq_paths = [os.path.join(d, "uniq") for d in dirs
                  if os.path.isdir(os.path.join(d, "uniq"))]
    uniq: dict[str, Any] = {}
    if uniq_paths:
        sketches = reduce(DataFrame.unionByName, [
            spark.read.schema(_UNIQ_SCHEMA).parquet(p) for p in uniq_paths])
        u = (sketches
             .agg(F.sum("n_rows").alias("n_rows"),
                  F.hll_sketch_estimate(F.hll_union_agg("sketch"))
                   .alias("n_distinct_est"))).collect()[0]
        n_rows, est = u["n_rows"] or 0, u["n_distinct_est"] or 0
        gap = abs(n_rows - est) / max(n_rows, 1)
        uniq = {"n_rows": n_rows, "n_distinct_est": est,
                "rel_gap": round(gap, 6),
                "uniq_ok": gap <= uniq_tolerance}

    total = {k: sum(c[k] for c in sums.values()) for k in counters}
    passed = sum(1 for c in sums.values()
                 if bucket_passed(c, max_err_rate))
    return {
        "n_deltas": len(dirs),
        "rows": total["n_rows"], "json_ok": total["n_json_ok"],
        "json_err": total["n_json_err"], "sha_bad": total["n_sha_bad"],
        "lang_bad": total["n_lang_bad"],
        "buckets": len(sums), "buckets_passed": passed,
        # zero observed buckets = vacuously passing (an empty or fully
        # filtered table has no failing partition)
        "pass_rate": (round(passed / len(sums), 4) if sums else 1.0),
        "uniqueness": uniq,
        "schema": global_schema,
        "bucket_schemas": {
            b: render(apply_transforms(st, ctx), ctx)
            for b, st in sorted(by_bucket.items())},
    }
