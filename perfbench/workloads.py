"""The workloads: their measured job, their inference legs and the
checks of every output against the generator's planted ground truth.

Every call into the engine goes through ``Run.layer`` which, in a traced
run, opens a span and gives the call its own Spark job group so the
status store can attribute stage facts to it.  Untraced runs skip both.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from typing import Optional

from perfbench import gen
from perfbench.trace import Tracer

N_BUCKETS, N_SALTS = 64, 8
MAX_ERR_RATE = 0.02
# the scan pass caps sha/lang violation rows per Arrow batch
MAX_VIOLATION_EXAMPLES = 1000
PSI_BOUND = 0.25
HLL_BOUND = 0.05


class Run:
    """Per-run state shared by setup, the job, the legs and the checks."""

    def __init__(self, workload: "Workload", seed: int, workdir: str,
                 cores: int, tracer: Optional[Tracer]) -> None:
        self.wl = workload
        self.seed = seed
        self.workdir = workdir
        self.cores = cores
        self.tracer = tracer
        self.spark = None
        self.table: Optional[gen.Table] = None
        self.groups: list = []
        self.checks: list = []          # (name, ok, detail)
        self.samples: dict = {}         # metric -> list of values
        self.layer_counts: dict = {}    # count-valued layer facts
        # outputs the checks read, set by the workload as it runs
        self.last = None                # last job iteration's outputs
        self.last_infer = None          # (InferResult, n_viol, keyed rows)
        self.dims_df = None             # repo dimension DataFrame
        self.series: Optional[gen.IcebergSeries] = None
        self.ckpt = None                # incremental checkpoint dir
        self.n_incr = 0                 # incremental re-validations run
        self.rss = None                 # RssSampler over the job loop

    # -------------------------------------------------------- tracing

    @contextlib.contextmanager
    def layer(self, name: str):
        """Span + Spark job group around one call into a layer."""
        if self.tracer is None:
            yield
            return
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = sc.getLocalProperty("spark.job.description")
        if name not in self.groups:
            self.groups.append(name)
        sc.setJobGroup(name, name)
        try:
            with self.tracer.span(name):
                yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prev)
            sc.setLocalProperty("spark.job.description", prev_desc)

    def sample(self, metric: str, value: float) -> None:
        self.samples.setdefault(metric, []).append(value)

    def check(self, name: str, ok: bool, detail="") -> None:
        self.checks.append((name, bool(ok), str(detail)[:300]))

    def check_eq(self, name: str, got, want) -> None:
        self.check(name, got == want, f"got {got!r}, want {want!r}")

    # -------------------------------------------------------- session

    def start_session(self) -> dict:
        from schema_guru_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", master=f"local[{self.cores}]",
                               shuffle_partitions=max(self.cores, 8))
        t1 = time.perf_counter()
        # one tiny Python-UDF job per core: forks the worker daemon and
        # imports pandas/pyarrow in every worker before anything is timed
        self.spark.range(0, 4 * self.cores, 1, self.cores).mapInPandas(
            lambda it: it, "id long").count()
        t2 = time.perf_counter()
        return {"session.get_spark_s": t1 - t0,
                "session.worker_warm_s": t2 - t1}

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def read(self):
        from schema_guru_spark.sources.catalog import read_table
        with self.layer("sources.read_table"):
            return read_table(self.spark, path=self.table.path)


def _rendered(state: dict, ctx) -> str:
    from schema_guru_spark.core.microschema import render
    from schema_guru_spark.core.transforms import apply_transforms
    return json.dumps(render(apply_transforms(state, ctx), ctx),
                      sort_keys=True)


def _sequential_folds(docs, keys, ctx) -> dict:
    """Ground truth: the per-document kernel folded in row order, per
    key (``accumulate_doc`` is the sequential derive+merge fold)."""
    from schema_guru_spark.core.accumulate import accumulate_doc
    out: dict = {}
    for k, d in zip(keys, docs):
        acc = out.get(k)
        if acc is None:
            acc = out[k] = {}
        accumulate_doc(acc, d, ctx)
    return out


def _psi_oracle(pairs, n_bins: int = 10) -> dict:
    """Per-bucket PSI of content length against the whole table, written
    from the definition drift_psi_report documents: equal-width bins
    over [min, max], Laplace smoothing 0.5, bins a bucket lacks skipped,
    rounded to 6 places."""
    import math
    vals = [c for _, c in pairs if c is not None]
    lo, hi = min(vals), max(vals)
    width = (hi - lo) / n_bins + 1e-12
    glob: dict = {}
    parts: dict = {}
    for b, c in pairs:
        if c is None:
            continue
        k = min(n_bins - 1, int(math.floor((c - lo) / width)))
        glob[k] = glob.get(k, 0) + 1
        h = parts.setdefault(b, {})
        h[k] = h.get(k, 0) + 1
    gt = sum(glob.values())
    out = {}
    for b, h in parts.items():
        pt = sum(h.values())
        s = 0.0
        for k, n in h.items():
            pp = (n + 0.5) / (pt + 0.5 * n_bins)
            pg = (glob[k] + 0.5) / (gt + 0.5 * n_bins)
            s += (pp - pg) * math.log(pp / pg)
        out[b] = round(s, 6)
    return out


class Workload:
    name = ""
    # the job's iteration count: at least this many, more while the
    # --seconds budget lasts
    min_iters = 3
    # unmeasured iterations first: the job keeps speeding up over its
    # first iterations in a fresh JVM and session (JIT, worker state)
    warmup_iters = 1

    def generate(self, run: Run) -> gen.Table:
        raise NotImplementedError

    def warmup(self, run: Run) -> list:
        """Unmeasured job iterations (JIT, caches, lazy set-up); returns
        their walls."""
        return [self.iteration(run, record=False)[0]
                for _ in range(self.warmup_iters)]

    def iteration(self, run: Run, record: bool = True) -> tuple:
        """One job iteration; returns (wall seconds, rows handled)."""
        raise NotImplementedError

    def finish(self, run: Run) -> None:
        """Work after the measured loop (checks needing a last output)."""

    # ---- inference legs over the JSON content (traced runs)

    def infer_legs(self, run: Run) -> None:
        from pyspark.sql import functions as F
        from schema_guru_spark.core.context import SchemaContext
        from schema_guru_spark.operators.infer import (
            infer_json_column, infer_json_column_by_key)

        ctx = SchemaContext.make(0)
        df = run.read().where(F.col("lang") == "json")
        col, key = "content", "repo"
        t0 = time.perf_counter()
        with run.layer("operators.infer.infer_json_column"):
            res = infer_json_column(df, col, ctx)
            n_viol = res.violations.count()
        t1 = time.perf_counter()
        with run.layer("operators.infer.infer_json_column_by_key"):
            keyed = infer_json_column_by_key(df, col, key, ctx).collect()
        t2 = time.perf_counter()
        res.unpersist()
        n_docs = res.n_ok + res.n_err
        run.sample("infer_docs_per_sec", n_docs / (t1 - t0))
        run.sample("infer_keyed_docs_per_sec", n_docs / (t2 - t1))
        run.last_infer = (res, n_viol, keyed)

    def check_infer(self, run: Run) -> None:
        if run.last_infer is None:      # the legs did not run
            return
        from schema_guru_spark.core.context import SchemaContext
        from schema_guru_spark.core.microschema import merge_all
        ctx = SchemaContext.make(0)
        res, n_viol, keyed = run.last_infer
        t = run.table
        run.check_eq("infer.n_ok", res.n_ok, t.truth["json_ok"])
        run.check_eq("infer.n_err", res.n_err, t.truth["json_err"])
        run.check_eq("infer.violation_rows", n_viol, t.truth["json_err"])
        truth = _sequential_folds(t.docs, t.doc_keys, ctx)
        run.check_eq("infer.schema_eq_sequential_fold",
                     _rendered(res.state, ctx),
                     _rendered(merge_all(truth.values(), ctx), ctx))
        got = {r[0]: r for r in keyed}
        n_ok = {}
        for k in t.doc_keys:
            n_ok[k] = n_ok.get(k, 0) + 1
        run.check_eq("infer_by_key.n_ok_per_key",
                      {k: r["n_ok"] for k, r in got.items() if r["n_ok"]},
                      n_ok)
        run.check_eq("infer_by_key.n_err_total",
                     sum(r["n_err"] for r in got.values()),
                     t.truth["json_err"])
        bad = [k for k, st in truth.items()
               if k not in got or got[k]["schema"] != _rendered(st, ctx)]
        run.check("infer_by_key.schema_eq_sequential_fold", not bad,
                  f"{len(bad)} keys differ, e.g. {bad[:3]}")

    # ---- driver-side replay of the core kernel (traced runs)

    def json_texts(self, run: Run):
        """The workload's JSON texts, read back with pyarrow in
        Spark-sized batches (spark.sql.execution.arrow.maxRecordsPerBatch
        = 10000)."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        for f in sorted(_parquet_files(run.table.path)):
            for b in pq.ParquetFile(f).iter_batches(
                    batch_size=10_000, columns=["lang", "content"]):
                keep = pc.equal(b.column("lang"), "json")
                yield b.column("content").filter(keep).to_pylist()


def _parquet_files(root: str) -> list:
    out = []
    for d, _, files in os.walk(root):
        out.extend(os.path.join(d, f) for f in files
                   if f.endswith(".parquet"))
    return out


def core_replay(run: Run, texts_batches) -> dict:
    """Replay the executor kernel on the driver, batch by batch, as the
    scan pass runs it: parse each distinct text once (json_fast.loads),
    gate, fold the batch (fold_docs; a repeated doc enters twice), then
    serialize, re-merge and finally render the state."""
    from schema_guru_spark.core.accumulate_batch import fold_docs
    from schema_guru_spark.core.context import SchemaContext
    from schema_guru_spark.core.json_fast import loads as fast_loads
    from schema_guru_spark.core.microschema import (ZERO, dumps, loads,
                                                    merge, render)
    from schema_guru_spark.core.transforms import apply_transforms

    tr = run.tracer
    ctx = SchemaContext.make(0)
    acc = ZERO
    n_rows = n_parse = n_fold = state_bytes = 0
    for texts in texts_batches:
        n_rows += len(texts)
        counts: dict = {}
        for t in texts:
            if t is not None:
                counts[t] = counts.get(t, 0) + 1
        n_parse += len(counts)
        with tr.span("core.json_fast.loads"):
            parsed = []
            for t, c in counts.items():
                try:
                    parsed.append((fast_loads(t), c))
                except (ValueError, TypeError):
                    pass
        docs = []
        for v, c in parsed:
            if isinstance(v, (dict, list)):
                docs.append(v)
                if c > 1:
                    docs.append(v)
        n_fold += len(docs)
        with tr.span("core.accumulate_batch.fold_docs"):
            st = fold_docs({}, docs, ctx)
        with tr.span("core.microschema.dumps"):
            s = dumps(st)
        state_bytes += len(s)
        with tr.span("core.microschema.merge"):
            acc = merge(acc, loads(s), ctx)
    with tr.span("core.transforms.apply_transforms"):
        final = apply_transforms(acc, ctx)
    with tr.span("core.microschema.render"):
        render(final, ctx)
    return {"core.parse_calls": n_parse,
            "core.distinct_ratio": n_parse / max(n_rows, 1),
            "core.fold_docs_n": n_fold,
            "core.state_bytes": state_bytes}


# ================================================================ validate

class ValidateJsonUnique(Workload):
    """validate_repo_table, then constraint_report, with a repo_dims table,
    on an 80k-row table that is about 80% distinct wide JSON.

    The job runs the two passes in turn: run_validation.py overlaps them
    on two threads, but that form is too unsteady to bound (NOTES.md).  A
    traced run times the overlapped form too and reports what it saves
    (``pipeline.overlap_saving_s``)."""

    name = "validate_json_unique"

    def generate(self, run: Run) -> gen.Table:
        return gen.validate_json_unique(run.seed, run.workdir)

    def dims(self, run: Run):
        if run.dims_df is None:
            run.dims_df = run.spark.createDataFrame(
                [(r,) for r in run.table.dims], "repo string")
        return run.dims_df

    def _validate(self, run: Run, df) -> tuple:
        """validate_repo_table with every output collected: the verdict
        rows and the violation rows counted by kind."""
        from pyspark.sql import functions as F
        from schema_guru_spark.pipeline import validate_repo_table

        with run.layer("pipeline.validate_repo_table"):
            res = validate_repo_table(
                run.spark, df, n_buckets=N_BUCKETS, n_salts=N_SALTS,
                max_err_rate=MAX_ERR_RATE,
                max_violation_examples=MAX_VIOLATION_EXAMPLES)
            verdicts = res.verdicts.collect()
            kinds = (res.violations.groupBy(
                F.when(F.col("detail").startswith("invalid JSON"),
                       F.lit("invalid JSON"))
                 .otherwise(F.col("detail")).alias("kind"))
                .count().collect())
        res.verdicts.unpersist()
        res.violations.unpersist()
        return verdicts, {k["kind"]: k["count"] for k in kinds}

    def _constraints(self, run: Run, df,
                     name: str = "pipeline.constraint_report") -> dict:
        from schema_guru_spark.pipeline import constraint_report
        with run.layer(name):
            return constraint_report(run.spark, df, n_buckets=N_BUCKETS,
                                     n_salts=N_SALTS,
                                     repo_dims=self.dims(run))

    def iteration(self, run: Run, record: bool = True) -> tuple:
        df = run.read()
        t0 = time.perf_counter()
        verdicts, kinds = self._validate(run, df)
        t1 = time.perf_counter()
        rep = self._constraints(run, df)
        t2 = time.perf_counter()
        run.last = (verdicts, kinds, rep)
        if record:
            run.sample("validate_s", t1 - t0)
            run.sample("constraint_report_s", t2 - t1)
        return t2 - t0, sum(v["n_rows"] for v in verdicts)

    def overlapped(self, run: Run) -> float:
        """The two passes as run_validation.py runs them: constraint_report
        on a second thread while validate_repo_table scans."""
        df = run.read()
        parent = run.tracer.current() if run.tracer else None

        def constraints():
            if run.tracer is not None:
                run.tracer.adopt(parent)
            return self._constraints(run, df,
                                     "pipeline.constraint_report.overlapped")

        t0 = time.perf_counter()
        with ThreadPoolExecutor(max_workers=1) as ex:
            f_rep = ex.submit(constraints)
            self._validate(run, df)
            f_rep.result()
        return time.perf_counter() - t0

    def finish(self, run: Run) -> None:
        if run.tracer is not None:
            wall = self.overlapped(run)
            run.sample("overlapped_job_s", wall)
            # positive when overlapping the passes beats running them in
            # turn
            run.layer_counts["pipeline.overlap_saving_s"] = (
                statistics.median(run.samples["job_s"]) - wall)
            self.constraint_legs(run)

    def constraint_legs(self, run: Run) -> None:
        """Traced only: each constraint operator on the projection
        constraint_report builds, each under its own job group."""
        from pyspark.sql import functions as F
        from schema_guru_spark.operators import constraints as C
        from schema_guru_spark.pipeline import bucket_expr

        df = run.read()
        keys = ("repo", "path", "commit", "lang")
        slim = (df.withColumn("bucket", bucket_expr(N_BUCKETS, N_SALTS))
                  .select("bucket", "repo",
                          F.length("content").alias("clen"),
                          F.xxhash64(F.lit(0x5EED0), "repo", "path",
                                     "commit").alias("kh1"),
                          F.xxhash64(F.lit(0x5EED1), "repo", "path",
                                     "commit").alias("kh2"),
                          *[F.col(c).isNull().cast("int").alias(f"_n_{c}")
                            for c in keys])
                  .persist())
        try:
            slim.count()
            with run.layer("operators.constraints.uniqueness_hashed"):
                C.uniqueness_hashed(slim, ["kh1", "kh2"],
                                    prehashed=True).collect()
            with run.layer("operators.constraints.referential_violations"):
                C.referential_violations(slim.select("repo"),
                                         self.dims(run), "repo",
                                         "repo").count()
            with run.layer("operators.constraints.drift_psi_report"):
                C.drift_psi_report(slim, "clen", "bucket")
            with run.layer("operators.constraints.completeness"):
                C.completeness(slim, [f"_n_{c}" for c in keys]).collect()
        finally:
            slim.unpersist()

    def checks(self, run: Run) -> None:
        from pyspark.sql import functions as F
        from schema_guru_spark.core.context import SchemaContext
        from schema_guru_spark.operators import constraints as C
        from schema_guru_spark.pipeline import bucket_expr

        t = run.table.truth
        verdicts, kinds, rep = run.last
        tot = {k: sum(v[k] for v in verdicts)
               for k in ("n_rows", "n_json_ok", "n_json_err", "n_sha_bad",
                         "n_lang_bad")}
        run.check_eq("verdict.rows", tot["n_rows"], t["rows"])
        run.check_eq("verdict.json_ok", tot["n_json_ok"], t["json_ok"])
        run.check_eq("verdict.json_err", tot["n_json_err"], t["json_err"])
        run.check_eq("verdict.sha_bad", tot["n_sha_bad"], t["sha_bad"])
        run.check_eq("verdict.lang_bad", tot["n_lang_bad"], t["lang_bad"])
        # sha/lang rows are capped per Arrow batch: exact while the
        # planted total fits under one cap, bounded otherwise
        for kind, want in (("sha256 mismatch", t["sha_bad"]),
                           ("lang not allowed", t["lang_bad"])):
            got = kinds.get(kind, 0)
            run.check(f"violations.{kind.split()[0]}_rows",
                      (got == want) if want <= MAX_VIOLATION_EXAMPLES
                      else MAX_VIOLATION_EXAMPLES <= got <= want,
                      f"got {got}, planted {want}")
        run.check_eq("violations.json_rows",
                     kinds.get("invalid JSON", 0) + kinds.get(
                         "null content", 0), t["json_err"])
        run.check_eq("violations.null_content_rows",
                     kinds.get("null content", 0), t["null_content"])
        run.check_eq("constraints.n_rows", rep["n_rows"], t["rows"])
        run.check_eq("constraints.n_exact_distinct", rep["n_exact_distinct"],
                     t["rows"] - t["dup_keys"])
        run.check_eq("constraints.keys_unique", rep["keys_unique"],
                     t["dup_keys"] == 0)
        run.check("constraints.hll_error_bounded",
                  rep["hll_ok"] and rep["hll_rel_err"] <= HLL_BOUND,
                  f"rel_err {rep['hll_rel_err']}")
        run.check_eq("constraints.ri_orphans", rep["n_ri_orphans"],
                     t["orphan_rows"])
        run.check_eq("constraints.key_null_counts", rep["key_null_counts"],
                     {"repo": 0, "path": 0, "commit": 0})
        run.check_eq("constraints.content_completeness",
                     rep["completeness"]["content"],
                     round(1.0 - t["null_content"] / t["rows"], 6))
        run.check("constraints.worst_psi_crosses_bound",
                  rep["worst_bucket_psi"] >= PSI_BOUND,
                  f"worst {rep['worst_bucket_psi']}")

        # drift and the per-bucket schemas need each row's bucket: one
        # narrow query outside the timing, then a Python oracle
        df = run.read().withColumn("bucket", bucket_expr(N_BUCKETS, N_SALTS))
        rows = df.select("bucket", "repo", "path", "lang",
                         F.length("content").alias("clen")
                         ).toArrow().to_pylist()
        psi = C.drift_psi_report(
            df.select("bucket", F.length("content").alias("clen")),
            "clen", "bucket")
        want = _psi_oracle([(r["bucket"], r["clen"]) for r in rows])
        run.check("drift.psi_eq_oracle",
                  psi.keys() == want.keys() and all(
                      abs(psi[b] - want[b]) <= 2e-6 for b in want),
                  {b: (psi.get(b), want[b]) for b in list(want)[:4]})
        run.check("drift.report_worst_eq_oracle",
                  abs(rep["worst_bucket_psi"] - max(want.values())) <= 2e-6,
                  f"{rep['worst_bucket_psi']} vs {max(want.values())}")
        share: dict = {}
        for r in rows:
            n = share.setdefault(r["bucket"], [0, 0])
            n[0] += r["repo"] == gen.DRIFT_REPO
            n[1] += 1
        # a bucket where the drifted repo holds a quarter of the rows must
        # cross the bound; one it shares with a far larger repo is diluted
        # by design (the salted bucketing mixes repos)
        dominated = [b for b, (d, n) in share.items() if 4 * d >= n]
        run.check("drift.dominated_buckets_cross",
                  dominated and all(psi[b] >= PSI_BOUND for b in dominated),
                  {b: psi[b] for b in dominated})
        clean = [psi[b] for b, (d, _) in share.items() if d == 0]
        run.check("drift.clean_buckets_stay_below",
                  all(p < PSI_BOUND for p in clean), max(clean, default=0))

        where = {(r["repo"], r["path"]): r["bucket"] for r in rows
                 if r["lang"] == "json"}
        ctx = SchemaContext.make(0)
        truth = _sequential_folds(
            run.table.docs,
            [where[k] for k in zip(run.table.doc_keys, run.table.doc_paths)],
            ctx)
        bad = [v["bucket"] for v in verdicts
               if v["schema"] != _rendered(truth.get(v["bucket"], {}), ctx)]
        run.check("verdict.schema_eq_sequential_fold", not bad,
                  f"{len(bad)} buckets differ, e.g. {bad[:3]}")
        self.check_infer(run)


# ================================================================ incremental

class IncrementalAppend(Workload):
    """A checkpointed incremental_validate baseline on an Iceberg table,
    then small appends each followed by an incremental re-validation.  A
    traced run ends with one full re-validation from a fresh checkpoint,
    which must equal the incremental chain."""

    name = "incremental_append"

    def generate(self, run: Run) -> gen.Table:
        path = os.path.join(run.workdir, "incremental_append")
        shutil.rmtree(path, ignore_errors=True)
        run.series = gen.IcebergSeries(run.seed, run.workdir)
        return run.series.create()

    def _validate(self, run: Run, ckpt: str) -> dict:
        from schema_guru_spark.plans.incremental import incremental_validate
        with run.layer("plans.incremental.incremental_validate"):
            return incremental_validate(
                run.spark, run.table.path, ckpt, n_buckets=N_BUCKETS,
                n_salts=N_SALTS, max_err_rate=MAX_ERR_RATE)

    def _check_cumulative(self, run: Run, tag: str, rep: dict) -> None:
        t = run.series.truth
        cum = rep["cumulative"]
        got = {k: cum[k] for k in ("rows", "json_ok", "json_err",
                                   "sha_bad", "lang_bad")}
        run.check_eq(f"{tag}.cumulative_counts", got,
                     {k: t[k] for k in got})
        u = cum["uniqueness"]
        run.check(f"{tag}.hll_error_bounded",
                  u["uniq_ok"] and u["rel_gap"] <= HLL_BOUND,
                  f"rel_gap {u['rel_gap']}")

    def warmup(self, run: Run) -> list:
        """The checkpointed baseline is the first warm-up iteration."""
        run.ckpt = os.path.join(run.workdir, "ckpt")
        shutil.rmtree(run.ckpt, ignore_errors=True)
        t0 = time.perf_counter()
        rep = self._validate(run, run.ckpt)
        walls = [time.perf_counter() - t0]
        run.check_eq("baseline.mode", rep["mode"], "baseline")
        self._check_cumulative(run, "baseline", rep)
        run.n_incr = 0
        return walls + [self.iteration(run, record=False)[0]
                        for _ in range(self.warmup_iters - 1)]

    def iteration(self, run: Run, record: bool = True) -> tuple:
        # the delta's rows are the benchmark's own work: built untimed
        rows = run.series.delta_rows()
        n = len(rows)
        t0 = time.perf_counter()
        with run.layer("sources.append_snapshot"):
            run.series.append(rows)
        t1 = time.perf_counter()
        rep = self._validate(run, run.ckpt)
        t2 = time.perf_counter()
        run.table = run.series.table()
        if record:
            run.sample("incr_revalidate_s", t2 - t1)
        ok = (rep["mode"] == "incremental" and rep["delta"]["rows"] == n)
        run.check(f"incremental[{run.n_incr}].delta", ok,
                  f"mode {rep['mode']}, delta {rep['delta']['rows']}/{n}")
        self._check_cumulative(run, f"incremental[{run.n_incr}]",
                               rep)
        run.n_incr += 1
        run.last = rep
        return t2 - t0, n

    def finish(self, run: Run) -> None:
        ck_bytes = gen.dir_bytes(run.ckpt)
        run.sample("ckpt_bytes_per_input_byte",
                   ck_bytes / gen.data_bytes(run.table.path))
        if run.tracer is None:
            return
        # traced runs only: a full re-validation costs as much as two
        # appends, and the untraced run's time goes to the job
        ckpt = os.path.join(run.workdir, "ckpt_full")
        shutil.rmtree(ckpt, ignore_errors=True)
        t0 = time.perf_counter()
        full = self._validate(run, ckpt)
        run.sample("full_revalidate_s", time.perf_counter() - t0)
        run.check_eq("full.mode", full["mode"], "baseline")
        self._check_cumulative(run, "full", full)
        inc = run.last["cumulative"]
        run.check_eq("full.eq_incremental",
                     {k: full["cumulative"][k] for k in
                      ("rows", "buckets", "buckets_passed", "schema")},
                     {k: inc[k] for k in
                      ("rows", "buckets", "buckets_passed", "schema")})
        run.layer_counts["plans.checkpoint.bytes_written"] = ck_bytes
        run.layer_counts["plans.checkpoint.files_written"] = sum(
            len(f) for _, _, f in os.walk(run.ckpt))
        from schema_guru_spark.sources.iceberg_meta import plan_scan
        with run.layer("sources.plan_scan"):
            run.layer_counts["sources.files_planned"] = len(
                plan_scan(run.table.path).data)

    def checks(self, run: Run) -> None:
        from schema_guru_spark.core.context import SchemaContext
        ctx = SchemaContext.make(0)
        truth = _sequential_folds(run.series.docs,
                                  [0] * len(run.series.docs), ctx)
        run.check_eq("cumulative.schema_eq_sequential_fold",
                     json.dumps(run.last["cumulative"]["schema"],
                                sort_keys=True),
                     _rendered(truth.get(0, {}), ctx))
        self.check_infer(run)


WORKLOADS = {w.name: w for w in (ValidateJsonUnique(), IncrementalAppend())}
