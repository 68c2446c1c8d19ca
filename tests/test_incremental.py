"""Incremental append scan + incremental re-validation.

The scale claim under test: after a table append, re-validation plans
ONLY the appended files from metadata (plan_incremental), and the
cumulative whole-table view (counters, merged schema, uniqueness) is
EXACT — bit-equal to a from-scratch full validation — because counters
sum, schema states are a commutative monoid, and HLL sketches union.
"""

import hashlib
import json
import os

import pytest

from schema_guru_spark.sources.iceberg_meta import (
    append_snapshot,
    delete_where_equal,
    load_table_metadata,
    plan_incremental,
    read_iceberg,
    read_iceberg_incremental,
)

SCHEMA = [("repo", "string"), ("path", "string"), ("commit", "string"),
          ("lang", "string"), ("content", "string"),
          ("content_sha", "string")]


def _vrows(n, commit, extra_key=False, langs=("json",), start=0):
    rows = []
    for i in range(start, start + n):
        doc = {"i": i}
        if extra_key:
            doc["u"] = f"{i:08x}-0000-4000-8000-{i:012x}"
        content = json.dumps(doc)
        rows.append({
            "repo": f"r{i % 5}", "path": f"p/{commit}/{i}",
            "commit": commit, "lang": langs[i % len(langs)],
            "content": content,
            "content_sha": hashlib.sha256(content.encode()).hexdigest(),
        })
    return rows


@pytest.fixture()
def table3(tmp_path):
    """Three append snapshots: 30 + 20 + 10 rows."""
    tp = str(tmp_path / "repos")
    s1 = append_snapshot(tp, _vrows(30, "c1"), SCHEMA,
                         partition_by="lang")
    s2 = append_snapshot(tp, _vrows(20, "c2", start=100), SCHEMA,
                         partition_by="lang")
    s3 = append_snapshot(tp, _vrows(10, "c3", start=200), SCHEMA,
                         partition_by="lang")
    return tp, s1, s2, s3


# ------------------------------------------------- metadata-level plan

def test_plan_incremental_only_window_files(table3):
    tp, s1, s2, s3 = table3
    plan = plan_incremental(tp, s1, s3)
    assert sum(f.record_count for f in plan.data) == 30
    assert not plan.deletes
    # exactly the files of s2 and s3 — never s1's
    assert all(f"/{s2:05d}-" in f.path or f"/{s3:05d}-" in f.path
               for f in plan.data)
    # and strictly fewer files than a full scan plans
    from schema_guru_spark.sources.iceberg_meta import plan_scan
    assert len(plan.data) < len(plan_scan(tp, s3).data)


def test_plan_incremental_single_step_and_empty(table3):
    tp, s1, s2, s3 = table3
    assert sum(f.record_count
               for f in plan_incremental(tp, s2, s3).data) == 10
    assert plan_incremental(tp, s3, s3).data == []
    # default to = current snapshot
    assert sum(f.record_count
               for f in plan_incremental(tp, s2).data) == 10


def test_plan_incremental_partition_filter(table3):
    tp, s1, _, s3 = table3
    plan = plan_incremental(tp, s1, s3,
                            partition_filter={"lang": "json"})
    assert sum(f.record_count for f in plan.data) == 30
    assert plan_incremental(
        tp, s1, s3, partition_filter={"lang": "rust"}).data == []


def test_plan_incremental_unknown_snapshots(table3):
    tp, s1, *_ = table3
    with pytest.raises(LookupError):
        plan_incremental(tp, 999, None)
    with pytest.raises(LookupError):
        plan_incremental(tp, s1, 999)


def test_parent_snapshot_ids_recorded(table3):
    tp, s1, s2, s3 = table3
    snaps = {s["snapshot-id"]: s
             for s in load_table_metadata(tp)["snapshots"]}
    assert "parent-snapshot-id" not in snaps[s1]
    assert snaps[s2]["parent-snapshot-id"] == s1
    assert snaps[s3]["parent-snapshot-id"] == s2


def test_plan_incremental_refuses_delete_in_window(table3):
    tp, s1, _, s3 = table3
    sd = delete_where_equal(tp, [{"commit": "c2"}])
    with pytest.raises(NotImplementedError, match="delete"):
        plan_incremental(tp, s1, sd)
    # a window that STOPS before the delete still works
    assert sum(f.record_count
               for f in plan_incremental(tp, s1, s3).data) == 30


def test_read_incremental_rows_exact(spark, table3):
    tp, s1, s2, s3 = table3
    got = {r["path"] for r in
           read_iceberg_incremental(spark, tp, s1, s3).collect()}
    want = {r["path"] for r in _vrows(20, "c2", start=100)} | \
           {r["path"] for r in _vrows(10, "c3", start=200)}
    assert got == want


def test_read_table_appends_routes_and_refuses(spark, table3, tmp_path):
    from schema_guru_spark.sources.catalog import read_table_appends
    tp, s1, s2, s3 = table3
    assert read_table_appends(spark, path=tp,
                              from_snapshot_id=s2).count() == 10
    pq = str(tmp_path / "plain")
    spark.range(3).write.parquet(pq)
    with pytest.raises(ValueError, match="snapshot lineage"):
        read_table_appends(spark, path=pq, from_snapshot_id=1)


# --------------------------------------------- incremental validation

N_BUCKETS = 8


def _run(spark, tp, ckpt, **kw):
    from schema_guru_spark.plans.incremental import incremental_validate
    kw.setdefault("allowed_langs", ("json",))
    return incremental_validate(spark, tp, ckpt, n_buckets=N_BUCKETS, **kw)


def _buckets(spark, rows):
    """Each row's validation bucket, as the pipeline computes it."""
    from schema_guru_spark.pipeline import bucket_expr
    df = spark.createDataFrame([(r["repo"], r["path"]) for r in rows],
                               "repo string, path string")
    return [r[0] for r in df.select(bucket_expr(N_BUCKETS, 8)).collect()]


def _edge_rows(spark, prior, no_json_bucket=0, rate_bucket=1):
    """A delta that puts the cumulative ``rate_bucket`` EXACTLY at a
    JSON error rate of 1/4 and leaves ``no_json_bucket`` with no JSON
    rows at all (``prior`` must have none there)."""
    cand = _vrows(200, "c9", start=900)
    cb = _buckets(spark, cand)
    pb = _buckets(spark, prior)
    assert no_json_bucket not in pb
    n_prior = pb.count(rate_bucket)           # all valid JSON
    k = max(1, -(-n_prior // 3))              # k / (n_prior + m + k) = 1/4
    m = 3 * k - n_prior
    in_rate = [r for r, b in zip(cand, cb) if b == rate_bucket]
    in_none = [r for r, b in zip(cand, cb) if b == no_json_bucket]
    assert len(in_rate) >= k + m and len(in_none) >= 2
    out = in_rate[:m]
    for r in in_rate[m:m + k]:
        content = "{bad"
        out.append({**r, "content": content, "content_sha":
                    hashlib.sha256(content.encode()).hexdigest()})
    for r in in_none[:2]:
        content = "print(1)"
        out.append({**r, "lang": "py", "content": content, "content_sha":
                    hashlib.sha256(content.encode()).hexdigest()})
    return out


def test_incremental_validate_end_to_end(spark, tmp_path):
    # strict, and a tolerance that a bucket reaches exactly
    for max_err_rate in (0.0, 0.25):
        _check_end_to_end(spark, tmp_path / str(max_err_rate), max_err_rate)


def _check_end_to_end(spark, root, max_err_rate):
    tp = str(root / "repos")
    ckpt = str(root / "ckpt")
    kw = dict(max_err_rate=max_err_rate)
    base = _vrows(40, "c1")
    extra = _vrows(20, "c2", extra_key=True, start=500)
    if max_err_rate:
        # the edge delta below needs one bucket free of JSON; py rows
        # are allowed so that bucket passes on its (absent) JSON alone
        kw["allowed_langs"] = ("json", "py")
        base, extra = ([r for r, b in zip(rows, _buckets(spark, rows))
                        if b != 0] for rows in (base, extra))
    append_snapshot(tp, base, SCHEMA, partition_by="lang")

    r1 = _run(spark, tp, ckpt, **kw)
    assert r1["mode"] == "baseline"
    assert r1["delta"]["rows"] == len(base)
    assert r1["cumulative"]["rows"] == len(base)
    assert r1["cumulative"]["pass_rate"] == 1.0
    assert r1["cumulative"]["uniqueness"]["uniq_ok"]

    # nothing new -> no work, same cumulative
    r2 = _run(spark, tp, ckpt, **kw)
    assert r2["mode"] == "up-to-date"
    assert r2["delta"]["rows"] == 0
    assert r2["cumulative"]["rows"] == len(base)

    # append rows whose docs carry an extra uuid key, then validate:
    # ONLY the delta is scanned, but the cumulative schema must show
    # the union of both windows' key sets
    append_snapshot(tp, extra, SCHEMA, partition_by="lang")
    r3 = _run(spark, tp, ckpt, **kw)
    n_rows = len(base) + len(extra)
    assert r3["mode"] == "incremental"
    assert r3["delta"]["rows"] == len(extra)      # not n_rows
    assert r3["cumulative"]["rows"] == n_rows
    assert r3["cumulative"]["n_deltas"] == 2
    props = r3["cumulative"]["schema"]["properties"]
    assert set(props) == {"i", "u"}
    assert r3["cumulative"]["uniqueness"]["n_rows"] == n_rows
    assert r3["cumulative"]["uniqueness"]["uniq_ok"]
    final = r3
    if max_err_rate:
        edge = _edge_rows(spark, base + extra)
        append_snapshot(tp, edge, SCHEMA, partition_by="lang")
        final = _run(spark, tp, ckpt, **kw)
        assert final["cumulative"]["rows"] == n_rows + len(edge)

    # EXACT parity with a from-scratch full validation of the table
    from schema_guru_spark.core.context import SchemaContext
    from schema_guru_spark.core.microschema import ZERO, loads, merge, render
    from schema_guru_spark.core.transforms import apply_transforms
    from schema_guru_spark.pipeline import validate_repo_table
    full = validate_repo_table(spark, read_iceberg(spark, tp),
                               n_buckets=N_BUCKETS,
                               allowed_langs=kw.get("allowed_langs",
                                                    ("json",)),
                               max_err_rate=max_err_rate,
                               keep_state=True)
    ctx = SchemaContext.make(0)
    acc = ZERO
    for row in full.verdicts.select("state").collect():
        acc = merge(acc, loads(row["state"]), ctx)
    assert render(apply_transforms(acc, ctx), ctx) == \
        final["cumulative"]["schema"]
    from pyspark.sql import functions as F
    frow = full.verdicts.agg(
        F.sum("n_rows"), F.sum("n_json_ok"), F.sum("n_json_err")
    ).collect()[0]
    assert (frow[0], frow[1], frow[2]) == (
        final["cumulative"]["rows"], final["cumulative"]["json_ok"],
        final["cumulative"]["json_err"])
    # the cumulative verdicts re-apply the scan's pass rule to summed
    # counters: they must agree with the full scan's, edges included
    verdicts = {r["bucket"]: r for r in full.verdicts.collect()}
    assert final["cumulative"]["buckets_passed"] == \
        sum(r["passed"] for r in verdicts.values())
    if max_err_rate:
        at_rate, no_json = verdicts[1], verdicts[0]
        assert at_rate["n_json_err"] / (
            at_rate["n_json_ok"] + at_rate["n_json_err"]) == max_err_rate
        assert at_rate["passed"]
        assert no_json["n_json_ok"] + no_json["n_json_err"] == 0
        assert no_json["passed"]


def test_incremental_job_count_is_constant(spark, tmp_path):
    """One incremental re-validation launches the same Spark jobs
    however long the committed window chain is: no per-window schema
    inference, no re-read of a sink the call has just written."""
    tp = str(tmp_path / "repos")
    ckpt = str(tmp_path / "ckpt")
    append_snapshot(tp, _vrows(40, "c1"), SCHEMA, partition_by="lang")
    _run(spark, tp, ckpt)
    sc = spark.sparkContext
    jobs = {}
    try:
        for i in range(1, 6):
            append_snapshot(tp, _vrows(8, f"d{i}", start=100 * i), SCHEMA,
                            partition_by="lang")
            group = f"incremental-jobs-{i}"
            sc.setJobGroup(group, group)
            r = _run(spark, tp, ckpt)
            assert r["mode"] == "incremental"
            jobs[i] = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs[2] == jobs[5], jobs
    assert jobs[5] <= 17, jobs


def test_incremental_uniqueness_catches_cross_delta_dups(spark,
                                                         tmp_path):
    tp = str(tmp_path / "repos")
    ckpt = str(tmp_path / "ckpt")
    rows = _vrows(30, "c1")
    append_snapshot(tp, rows, SCHEMA, partition_by="lang")
    _run(spark, tp, ckpt)
    # re-append the SAME (repo, path, commit) keys: each delta alone is
    # key-unique, only the cross-delta union shows the duplication —
    # exactly what per-delta exact counts cannot see and unioned
    # sketches can
    append_snapshot(tp, rows, SCHEMA, partition_by="lang")
    r = _run(spark, tp, ckpt)
    uniq = r["cumulative"]["uniqueness"]
    assert uniq["n_rows"] == 60
    assert uniq["n_distinct_est"] < 45
    assert not uniq["uniq_ok"]


def test_incremental_nonappend_policy(spark, tmp_path):
    tp = str(tmp_path / "repos")
    ckpt = str(tmp_path / "ckpt")
    append_snapshot(tp, _vrows(30, "c1"), SCHEMA, partition_by="lang")
    _run(spark, tp, ckpt)
    append_snapshot(tp, _vrows(10, "c2", start=100), SCHEMA,
                    partition_by="lang")
    delete_where_equal(tp, [{"commit": "c2"}])

    with pytest.raises(NotImplementedError, match="delete"):
        _run(spark, tp, ckpt)

    r = _run(spark, tp, ckpt, on_nonappend="rebase")
    assert r["mode"] == "rebase"
    assert r["epoch"] == 1
    # the rebased cumulative view reflects the post-delete table: the
    # c2 rows were appended AND deleted inside the unvalidated window
    assert r["cumulative"]["rows"] == 30
    assert r["cumulative"]["n_deltas"] == 1

    # and the next append continues incrementally from the new epoch
    append_snapshot(tp, _vrows(5, "c3", start=300), SCHEMA,
                    partition_by="lang")
    r2 = _run(spark, tp, ckpt)
    assert r2["mode"] == "incremental"
    assert r2["epoch"] == 1
    assert r2["delta"]["rows"] == 5
    assert r2["cumulative"]["rows"] == 35


def test_incremental_rejects_foreign_checkpoint(spark, tmp_path):
    tp1 = str(tmp_path / "repos1")
    tp2 = str(tmp_path / "repos2")
    ckpt = str(tmp_path / "ckpt")
    append_snapshot(tp1, _vrows(10, "c1"), SCHEMA, partition_by="lang")
    append_snapshot(tp2, _vrows(10, "c1"), SCHEMA, partition_by="lang")
    _run(spark, tp1, ckpt)
    with pytest.raises(ValueError, match="belongs to table"):
        _run(spark, tp2, ckpt)


def test_run_validation_incremental_cli(spark, tmp_path):
    """--incremental through the job entry point (in-process; the
    spark-submit wiring itself is pinned by test_spark_submit.py)."""
    from schema_guru_spark.run_validation import main
    tp = str(tmp_path / "repos")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "rep.json")
    append_snapshot(tp, _vrows(25, "c1", langs=("json", "py")), SCHEMA,
                    partition_by="lang")
    rep = main(["--incremental", "--input", tp, "--checkpoint", ckpt,
                "--buckets", str(N_BUCKETS), "--json-out", out])
    assert rep["mode"] == "baseline"
    assert rep["cumulative"]["rows"] == 25
    assert json.load(open(out))["mode"] == "baseline"
    append_snapshot(tp, _vrows(5, "c2", start=900), SCHEMA,
                    partition_by="lang")
    rep2 = main(["--incremental", "--input", tp, "--checkpoint", ckpt,
                 "--buckets", str(N_BUCKETS)])
    assert rep2["mode"] == "incremental"
    assert rep2["delta"]["rows"] == 5
    assert rep2["cumulative"]["rows"] == 30


def test_uncommitted_delta_dir_is_not_double_counted(spark, tmp_path):
    """Crash between delta write and state commit: the orphaned delta
    directory must be excluded from cumulative accounting when a later,
    wider window supersedes it."""
    tp = str(tmp_path / "repos")
    ckpt = str(tmp_path / "ckpt")
    append_snapshot(tp, _vrows(20, "c1"), SCHEMA, partition_by="lang")
    r1 = _run(spark, tp, ckpt)
    s1 = r1["to_snapshot"]
    append_snapshot(tp, _vrows(10, "c2", start=100), SCHEMA,
                    partition_by="lang")

    # simulate the crash: validate the (s1, s2] delta into the dir the
    # real run would use, but DON'T commit the state file
    from schema_guru_spark.pipeline import validate_repo_table
    s2 = load_table_metadata(tp)["current-snapshot-id"]
    orphan = os.path.join(ckpt, f"e000-snap-{s1}-{s2}")
    validate_repo_table(spark, read_iceberg_incremental(spark, tp, s1),
                        checkpoint_dir=orphan, n_buckets=N_BUCKETS,
                        allowed_langs=("json",), keep_state=True)

    # a further append widens the next committed window to (s1, s3]
    append_snapshot(tp, _vrows(10, "c3", start=200), SCHEMA,
                    partition_by="lang")
    r = _run(spark, tp, ckpt)
    assert r["delta"]["rows"] == 20
    assert r["cumulative"]["rows"] == 40  # not 50: orphan not counted


# ----------------------------------------------- metadata property law

from hypothesis import given, settings, strategies as st


@settings(max_examples=25, deadline=None)
@given(st.lists(st.integers(min_value=1, max_value=7),
                min_size=1, max_size=6),
       st.data())
def test_incremental_windows_partition_the_full_scan(tmp_path_factory,
                                                     sizes, data):
    """The incremental-scan law: for ANY append-only history and ANY
    window split point, the files of plan_scan(to) are exactly the
    disjoint union of plan_scan(from)'s and plan_incremental(from,to)'s
    — no file double-planned, none lost."""
    from schema_guru_spark.sources.iceberg_meta import plan_scan
    tp = str(tmp_path_factory.mktemp("prop") / "repos")
    snaps = []
    start = 0
    for k, n in enumerate(sizes):
        rows = _vrows(n, f"c{k}", start=start,
                      langs=("json", "py", "go"))
        start += n
        snaps.append(append_snapshot(tp, rows, SCHEMA,
                                     partition_by="lang"))
    i = data.draw(st.integers(min_value=0, max_value=len(snaps) - 1))
    frm, to = snaps[i], snaps[-1]
    base = {f.path for f in plan_scan(tp, frm).data}
    delta = {f.path for f in plan_incremental(tp, frm, to).data}
    full = {f.path for f in plan_scan(tp, to).data}
    assert base | delta == full
    assert not (base & delta)
    assert sum(f.record_count for f in plan_incremental(tp, frm, to).data) \
        == sum(sizes[i + 1:])


def test_zero_row_delta_is_vacuously_passing(spark, tmp_path):
    """A delta whose partition filter removes every file must not
    crash the sketch union or report a failing pass_rate."""
    from schema_guru_spark.plans.incremental import incremental_validate
    tp = str(tmp_path / "repos")
    append_snapshot(tp, _vrows(5, "c1"), SCHEMA, partition_by="lang")
    rep = incremental_validate(
        spark, tp, str(tmp_path / "ckpt"), n_buckets=4,
        allowed_langs=("json",), partition_filter={"lang": "rust"})
    cum = rep["cumulative"]
    assert cum["rows"] == 0
    assert cum["pass_rate"] == 1.0
    assert cum["uniqueness"]["uniq_ok"]


def test_incremental_read_resolves_rename_by_field_id(spark, tmp_path):
    """An incremental window spanning a column rename must project
    every file to the CURRENT schema by field id. A plain multi-path
    parquet read unifies schemas by NAME, which read the post-rename
    files' renamed column as null (silent data loss) before the fix."""
    from schema_guru_spark.sources.iceberg_meta import rename_column
    tp = str(tmp_path / "repos")
    s1 = append_snapshot(tp, _vrows(3, "c1"), SCHEMA)
    append_snapshot(tp, _vrows(3, "c2", start=3), SCHEMA)
    rename_column(tp, "content", "body")
    schema2 = [("body" if n == "content" else n, t) for n, t in SCHEMA]
    rows3 = [{("body" if k == "content" else k): v for k, v in r.items()}
             for r in _vrows(3, "c3", start=6)]
    s3 = append_snapshot(tp, rows3, schema2)
    df = read_iceberg_incremental(spark, tp, from_snapshot_id=s1,
                                  to_snapshot_id=s3)
    assert df.columns == [n for n, _ in schema2]
    got = {(r["commit"], r["body"]) for r in df.collect()}
    assert len(got) == 6 and all(b is not None for _, b in got)
    # pre-rename file (c2) and post-rename file (c3) both carry data
    assert {c for c, _ in got} == {"c2", "c3"}


def test_incremental_rejects_changed_parameters(spark, tmp_path):
    """ADVICE r04 (medium): table_state.json pins the validation
    parameters (n_buckets/n_salts/max_err_rate/allowed_langs/
    partition_filter) — a later run with different values would sum
    per-bucket counters across deltas whose bucket ids denote different
    row memberships, silently corrupting the cumulative view."""
    from schema_guru_spark.plans.incremental import incremental_validate
    tp = str(tmp_path / "repos")
    ckpt = str(tmp_path / "ckpt")
    append_snapshot(tp, _vrows(10, "c1"), SCHEMA, partition_by="lang")
    _run(spark, tp, ckpt)
    append_snapshot(tp, _vrows(10, "c2", start=10), SCHEMA,
                    partition_by="lang")
    with pytest.raises(ValueError, match="n_buckets"):
        incremental_validate(spark, tp, ckpt, n_buckets=N_BUCKETS * 2,
                             allowed_langs=("json",))
    with pytest.raises(ValueError, match="allowed_langs"):
        incremental_validate(spark, tp, ckpt, n_buckets=N_BUCKETS,
                             allowed_langs=("json", "py"))
    # matching params still work after the rejected attempts
    r = _run(spark, tp, ckpt)
    assert r["mode"] == "incremental"
    assert r["cumulative"]["rows"] == 20


def test_params_pin_canonicalizes_collection_filters(spark, tmp_path):
    """The params guard compares in-memory params against a
    JSON-round-tripped prior: tuple- and set-valued partition_filter
    entries must canonicalize to sorted lists, or an identical second
    run spuriously fails the pin (tuple != its saved list form) and a
    set crashes json.dump AFTER the validation scan already ran."""
    from schema_guru_spark.plans.incremental import (_run_params,
                                                     incremental_validate)
    import json as _json
    p = _run_params(8, 4, 0.02, ("json",),
                    {"lang": ("json", "py"), "repo": {"r1", "r0"}})
    assert p == _json.loads(_json.dumps(p))  # JSON-stable
    assert p["partition_filter"] == {"lang": ["json", "py"],
                                     "repo": ["r0", "r1"]}

    tp = str(tmp_path / "repos")
    ckpt = str(tmp_path / "ckpt")
    append_snapshot(tp, _vrows(10, "c1"), SCHEMA, partition_by="lang")
    kw = dict(n_buckets=N_BUCKETS, allowed_langs=("json",),
              partition_filter={"lang": ("json", "py")})
    r1 = incremental_validate(spark, tp, ckpt, **kw)
    assert r1["mode"] == "baseline"
    append_snapshot(tp, _vrows(10, "c2", start=10), SCHEMA,
                    partition_by="lang")
    # identical tuple filter on the second run: must NOT raise; a list
    # spelling of the same filter is the same parameters too
    r2 = incremental_validate(
        spark, tp, ckpt, n_buckets=N_BUCKETS, allowed_langs=("json",),
        partition_filter={"lang": ["py", "json"]})
    assert r2["mode"] == "incremental"
    # a genuinely different filter still trips the guard
    with pytest.raises(ValueError, match="partition_filter"):
        incremental_validate(
            spark, tp, ckpt, n_buckets=N_BUCKETS,
            allowed_langs=("json",),
            partition_filter={"lang": ("json",)})
