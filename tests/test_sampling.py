"""Corpus selection/packing operators: deterministic stratified
sampling, token-budget sequence packing, per-stratum quality top-k."""

import math
import random

import pytest
from pyspark.sql import functions as F

from schema_guru_spark.operators import sampling as SMP


@pytest.fixture(scope="module")
def corpus(spark):
    rng = random.Random(0xC0FFEE)
    strata = ["a", "b", "c", "hot"]
    rows = [
        (i, strata[i % 4] if i % 3 else "hot",  # 'hot' is skewed
         rng.randint(1, 200), float(rng.randint(0, 1000)) / 1000.0)
        for i in range(400)
    ]
    return rows


def _sample_ids(spark, rows, rates, default_rate):
    df = spark.createDataFrame(rows, ["id", "stratum", "n_tok", "score"])
    out = SMP.stratified_sample(df, "stratum", "id", rates,
                                default_rate=default_rate)
    return {r["id"] for r in out.collect()}


def test_stratified_nested_samples(spark, corpus):
    """Raising any rate strictly grows the kept set (hash-threshold
    sampling gives nested samples) and rate 1.0 keeps everything."""
    lo = _sample_ids(spark, corpus, {"a": 0.2, "hot": 0.1}, 0.3)
    hi = _sample_ids(spark, corpus, {"a": 0.7, "hot": 0.4}, 0.8)
    assert lo <= hi
    full = _sample_ids(spark, corpus, {"a": 1.0, "b": 1.0, "c": 1.0,
                                       "hot": 1.0}, 1.0)
    assert full == {r[0] for r in corpus}
    none = _sample_ids(spark, corpus, {}, 0.0)
    assert none == set()


def test_stratified_partition_independent(spark, corpus):
    """The kept set is a pure function of (salt, id, rates) — identical
    at any partitioning."""
    rates = {"a": 0.5, "hot": 0.25}
    base = spark.createDataFrame(corpus, ["id", "stratum", "n_tok", "score"])
    ref = {r["id"] for r in
           SMP.stratified_sample(base.coalesce(1), "stratum", "id",
                                 rates, 0.125).collect()}
    for n in (3, 13):
        got = {r["id"] for r in
               SMP.stratified_sample(base.repartition(n), "stratum", "id",
                                     rates, 0.125).collect()}
        assert got == ref


def test_stratified_rate_is_approximately_honored(spark):
    """On a large uniform id set the realized rate tracks the nominal
    rate (md5 prefix is uniform)."""
    # 20k ids, one stratum at 0.25
    spark_df = spark.range(20_000).select(
        F.col("id"), F.lit("s").alias("stratum"))
    kept = SMP.stratified_sample(spark_df, "stratum", "id",
                                 {"s": 0.25}).count()
    assert abs(kept / 20_000 - 0.25) < 0.02


def test_stratified_sample_is_map_only(spark, corpus):
    """Zero shuffle: the physical plan has no Exchange."""
    df = spark.createDataFrame(corpus, ["id", "stratum", "n_tok", "score"])
    out = SMP.stratified_sample(df, "stratum", "id", {"a": 0.5}, 0.25)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_threshold_width_invariant():
    """Thresholds are ALWAYS 8 hex chars (lexicographic == numeric);
    rate>=1 is None (keep-all), never a 9-char string."""
    assert SMP._rate_to_hex_threshold(1.0) is None
    assert SMP._rate_to_hex_threshold(1.5) is None
    assert SMP._rate_to_hex_threshold(0.0) == "00000000"
    for r in (1e-12, 0.1, 0.5, 0.999999999):
        t = SMP._rate_to_hex_threshold(r)
        assert len(t) == 8 and t == t.lower()


def test_threshold_width_invariant_at_boundary():
    """The width-8 invariant holds for EVERY double below 1.0, including
    the largest (1 - 2^-53), whose product with 2^32 lands exactly on
    the rounding halfway point — a 9-char threshold would silently keep
    ~1/16 of a stratum instead of ~all of it (lexicographic 'ffffffff' <
    '100000000' is False). The clamp makes this structural; this test
    pins it against both the clamp and the underlying rounding."""
    r = math.nextafter(1.0, 0.0)  # largest double < 1.0
    for _ in range(64):
        t = SMP._rate_to_hex_threshold(r)
        assert t is not None and len(t) == 8, (r, t)
        r = math.nextafter(r, 0.0)
    # the boundary rate keeps essentially everything
    assert SMP._rate_to_hex_threshold(math.nextafter(1.0, 0.0)) == "ffffffff"


def _pack_reference(rows, budget):
    """Driver-side reference: cumulate in id order, group by start//budget."""
    seqs = {}
    start = 0
    for i, n in sorted(rows):
        sid = start // budget
        agg = seqs.setdefault(sid, [0, 0, i, i])
        agg[0] += 1
        agg[1] += n
        agg[3] = i
        start += n
    return {sid: tuple(v) for sid, v in seqs.items()}


@pytest.mark.parametrize("n_ranges", [1, 4, 32])
def test_pack_sequences_matches_reference(spark, corpus, n_ranges):
    rows = [(i, n) for (i, _s, n, _q) in corpus]
    df = spark.createDataFrame(rows, ["id", "n_tok"])
    out = SMP.pack_sequences(df, "id", "n_tok", budget=500,
                             n_ranges=n_ranges).collect()
    ref = _pack_reference(rows, 500)
    got = {r["seq_id"]: (r["n_docs"], r["n_tokens"],
                         r["first_doc"], r["last_doc"]) for r in out}
    assert got == ref
    # conservation: every doc lands in exactly one sequence
    assert sum(r["n_docs"] for r in out) == len(rows)
    assert sum(r["n_tokens"] for r in out) == sum(n for _i, n in rows)


def test_pack_sequences_boundary_doc(spark):
    """A doc crossing the budget boundary belongs to the sequence it
    STARTS in; the next sequence starts at the next doc."""
    rows = [(1, 300), (2, 300), (3, 100)]  # budget 512: doc2 starts at 300
    df = spark.createDataFrame(rows, ["id", "n_tok"])
    out = {r["seq_id"]: r for r in
           SMP.pack_sequences(df, "id", "n_tok", budget=512).collect()}
    assert out[0]["n_docs"] == 2 and out[0]["n_tokens"] == 600
    assert out[1]["first_doc"] == 3


def test_pack_sequences_partition_sweep_input_layout(spark, corpus):
    """Same output whatever the INPUT partitioning (repartitionByRange
    re-ranges internally)."""
    rows = [(i, n) for (i, _s, n, _q) in corpus]
    ref = None
    for n in (1, 7):
        df = spark.createDataFrame(rows, ["id", "n_tok"]).repartition(n)
        got = [tuple(r) for r in
               SMP.pack_sequences(df, "id", "n_tok", budget=777).collect()]
        if ref is None:
            ref = got
        assert got == ref


def _topk_reference(rows, k):
    by_stratum = {}
    for (i, s, _n, q) in rows:
        by_stratum.setdefault(s, []).append((-q, i))
    out = {}
    for s, lst in by_stratum.items():
        for rank, (negq, i) in enumerate(sorted(lst)[:k], start=1):
            out[(s, rank)] = (i, -negq)
    return out


@pytest.mark.parametrize("k,nparts", [(5, 1), (5, 11), (1, 4), (1000, 4)])
def test_topk_by_score_matches_reference(spark, corpus, k, nparts):
    df = (spark.createDataFrame(corpus, ["id", "stratum", "n_tok", "score"])
          .repartition(nparts)
          .select("id", "stratum", F.col("score").alias("quality")))
    out = SMP.topk_by_score(df, "stratum", "id", "quality", k).collect()
    ref = _topk_reference(corpus, k)
    got = {(r["stratum"], r["rank"]): (r["id"], r["quality"]) for r in out}
    assert got == ref


def test_topk_compaction_path(spark, corpus):
    """compact_every smaller than a partition forces the accumulator
    compaction branch; result must be identical."""
    df = (spark.createDataFrame(corpus, ["id", "stratum", "n_tok", "score"])
          .repartition(2)
          .select("id", "stratum", F.col("score").alias("quality")))
    small = SMP.topk_by_score(df, "stratum", "id", "quality", 7,
                              compact_every=16).collect()
    big = SMP.topk_by_score(df, "stratum", "id", "quality", 7).collect()
    assert sorted(map(tuple, small)) == sorted(map(tuple, big))


def test_topk_ties_break_by_id(spark):
    rows = [(9, "s", 0.5), (3, "s", 0.5), (7, "s", 0.5), (1, "s", 0.4)]
    df = spark.createDataFrame(rows, ["id", "stratum", "quality"])
    out = SMP.topk_by_score(df, "stratum", "id", "quality", 2).collect()
    assert [(r["rank"], r["id"]) for r in out] == [(1, 3), (2, 7)]


def test_topk_rejects_nan_scores(spark):
    """The pandas pre-filter sorts NaN last and the window's F.desc
    ranks it first, so a NaN score would make the top-k depend on
    partitioning: it is refused, whichever partition holds it."""
    rows = [(i, "s", float(i)) for i in range(8)] + [(99, "s", math.nan)]
    df = spark.createDataFrame(rows, "id long, stratum string, "
                                     "quality double").repartition(2)
    assert df.rdd.glom().map(
        lambda p: any(math.isnan(r["quality"]) for r in p)
    ).collect().count(True) == 1
    with pytest.raises(ValueError, match="NaN"):
        SMP.topk_by_score(df, "stratum", "id", "quality", 3)


def test_stratified_sample_streams_stateless(spark, tmp_path, corpus):
    """stratified_sample is a pure projection+filter, so the SAME
    function applies unchanged to a streaming DataFrame: stream==batch
    row-for-row, append mode, no state store, no watermark."""
    rates = {"a": 0.5, "hot": 0.25}
    batch = spark.createDataFrame(corpus,
                                  ["id", "stratum", "n_tok", "score"])
    expected = sorted(tuple(r) for r in
                      SMP.stratified_sample(batch, "stratum", "id",
                                            rates, 0.125).collect())
    src = tmp_path / "sample_in"
    batch.write.parquet(str(src))
    stream = (spark.readStream
              .schema("id bigint, stratum string, n_tok bigint, score double")
              .parquet(str(src)))
    out = SMP.stratified_sample(stream, "stratum", "id", rates, 0.125)
    q = (out.writeStream.format("memory").queryName("sample_out")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(tuple(r) for r in
                 spark.sql("SELECT * FROM sample_out").collect())
    assert got == expected and len(got) > 0


def test_argument_guards(spark, corpus):
    df = spark.createDataFrame(corpus, ["id", "stratum", "n_tok", "score"])
    with pytest.raises(ValueError, match="budget"):
        SMP.pack_sequences(df, "id", "n_tok", budget=0)
    with pytest.raises(ValueError, match="n_ranges"):
        SMP.pack_sequences(df, "id", "n_tok", budget=10, n_ranges=0)
    with pytest.raises(ValueError, match="negative"):
        SMP.stratified_sample(df, "stratum", "id", {"a": -0.1})
    with pytest.raises(ValueError, match="default_rate"):
        SMP.stratified_sample(df, "stratum", "id", {}, default_rate=-1.0)
    with pytest.raises(ValueError, match="k must"):
        SMP.topk_by_score(
            df.select("id", "stratum", F.col("score").alias("quality")),
            "stratum", "id", "quality", 0)
    # a passthrough column named like a reserved output would duplicate
    # the alias and make every downstream F.col() ambiguous — loud, early
    with pytest.raises(ValueError, match="collide"):
        SMP.topk_by_score(
            df.select(F.col("id").alias("doc"), "stratum", "score",
                      F.col("n_tok").alias("quality")),
            "stratum", "doc", "score", 3)


def test_quality_topk_end_to_end(spark, sf_dir):
    """quality_topk_per_stratum over the real documents table: ranks are
    1..k per stratum, qualities non-increasing within a stratum."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = SMP.quality_topk_per_stratum(docs, "text", "doc_id",
                                       "source", k=3).collect()
    per = {}
    for r in out:
        per.setdefault(r["stratum"], []).append((r["rank"], r["quality"]))
    for s, lst in per.items():
        ranks = [rk for rk, _q in lst]
        assert ranks == list(range(1, len(ranks) + 1))
        quals = [q for _rk, q in lst]
        assert quals == sorted(quals, reverse=True)


def test_hash_split_partitions_every_row(spark, corpus):
    """Every row gets exactly one label; realized fractions track the
    nominal ones; the assignment is partition-independent."""
    df = spark.createDataFrame(corpus, ["id", "stratum", "n_tok", "score"])
    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    out = SMP.hash_split(df, "id", fr).collect()
    assert len(out) == len(corpus)
    assert {r["id"] for r in out} == {r[0] for r in corpus}
    by = {}
    for r in out:
        by.setdefault(r["split"], set()).add(r["id"])
    assert set(by) <= set(fr)
    assert len(by["train"]) > len(by["val"]) + len(by["test"])
    ref = {(r["id"], r["split"]) for r in out}
    for n in (3, 13):
        got = {(r["id"], r["split"]) for r in
               SMP.hash_split(df.repartition(n), "id", fr).collect()}
        assert got == ref


def test_hash_split_nested_train_region(spark, corpus):
    """Growing the first label's fraction (same order, same salt)
    strictly grows its region — the 60% train set is a subset of the
    80% one."""
    df = spark.createDataFrame(corpus, ["id", "stratum", "n_tok", "score"])

    def train_ids(p):
        out = SMP.hash_split(df, "id",
                             {"train": p, "val": (1 - p) / 2,
                              "test": (1 - p) / 2})
        return {r["id"] for r in out.where("split = 'train'").collect()}

    assert train_ids(0.6) <= train_ids(0.8)


def test_hash_split_is_map_only_and_guards(spark, corpus):
    df = spark.createDataFrame(corpus, ["id", "stratum", "n_tok", "score"])
    out = SMP.hash_split(df, "id", {"train": 0.9, "test": 0.1})
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    with pytest.raises(ValueError, match="non-empty"):
        SMP.hash_split(df, "id", {})
    with pytest.raises(ValueError, match="non-positive"):
        SMP.hash_split(df, "id", {"train": 1.0, "val": 0.0})
    with pytest.raises(ValueError, match="sum to 1"):
        SMP.hash_split(df, "id", {"train": 0.5, "val": 0.1})
    # sums to 1 within tolerance, but 'b' closes the hash space and
    # would leave 'c' silently empty
    with pytest.raises(ValueError, match="'b'"):
        SMP.hash_split(df, "id", {"a": 0.5, "b": 0.5, "c": 1e-10})
    # split_thresholds mirrors the compiled boundaries: one per label
    # except the open-tail last, each 8 hex chars
    bounds = SMP.split_thresholds({"train": 0.8, "val": 0.1, "test": 0.1})
    assert [b[0] for b in bounds] == ["train", "val"]
    assert all(len(b[1]) == 8 for b in bounds)


def test_domain_mix_plan_rates_and_caps(spark, corpus):
    """rate = min(1, target*budget/n); underfull strata cap at 1.0 with
    expected_kept == n_rows; strata outside targets get rate 0."""
    df = spark.createDataFrame(corpus, ["id", "stratum", "n_tok", "score"])
    n_by = {r["stratum"]: r["cnt"] for r in
            df.groupBy("stratum").agg(F.count("*").alias("cnt")).collect()}
    targets = {"a": 0.5, "hot": 0.01}
    budget = 300
    plan = {r["stratum"]: r for r in
            SMP.domain_mix_plan(df, "stratum", targets, budget).collect()}
    assert set(plan) == set(n_by)
    for s, r in plan.items():
        t = targets.get(s, 0.0)
        want = min(1.0, (t * budget) / n_by[s])
        assert abs(r["rate"] - want) < 1e-12
        assert r["expected_kept"] == int(want * n_by[s] // 1)
        assert r["n_rows"] == n_by[s]
    # 'a' is underfull at these numbers: 0.5*300=150 > n_a
    assert plan["a"]["rate"] == 1.0
    assert plan["a"]["expected_kept"] == n_by["a"]
    assert plan["b"]["rate"] == 0.0 and plan["b"]["expected_kept"] == 0
    with pytest.raises(ValueError, match="budget"):
        SMP.domain_mix_plan(df, "stratum", targets, 0)
    with pytest.raises(ValueError, match="negative"):
        SMP.domain_mix_plan(df, "stratum", {"a": -0.2}, 10)
    with pytest.raises(ValueError, match="sum to"):
        SMP.domain_mix_plan(df, "stratum", {"a": 0.8, "b": 0.4}, 10)


def test_apply_mix_plan_matches_composition(spark, corpus):
    """apply_mix_plan == stratified_sample with the plan's own rates,
    and the realized per-stratum counts track expected_kept."""
    df = spark.createDataFrame(corpus, ["id", "stratum", "n_tok", "score"])
    targets = {"a": 0.3, "b": 0.2, "hot": 0.05}
    budget = 200
    plan = SMP.domain_mix_plan(df, "stratum", targets, budget).collect()
    rates = {r["stratum"]: float(r["rate"]) for r in plan if r["rate"] > 0}
    via_compose = {(r["id"], r["stratum"]) for r in
                   SMP.stratified_sample(df, "stratum", "id", rates,
                                         0.0).collect()}
    got = SMP.apply_mix_plan(df, "stratum", "id", targets, budget)
    assert {(r["id"], r["stratum"]) for r in got.collect()} == via_compose
    kept_by = {}
    for r in got.collect():
        kept_by[r["stratum"]] = kept_by.get(r["stratum"], 0) + 1
    for r in plan:
        if r["expected_kept"] == 0:
            assert r["stratum"] not in kept_by
        else:
            # hash-threshold realization is binomial around the target
            assert abs(kept_by.get(r["stratum"], 0) - r["expected_kept"]) \
                <= max(10, r["expected_kept"] * 0.5)


def test_hash_split_streams_stateless(spark, tmp_path, corpus):
    """hash_split is a stateless projection: identical labels when the
    same rows arrive as a stream."""
    df = spark.createDataFrame(corpus, ["id", "stratum", "n_tok", "score"])
    src = str(tmp_path / "split_src")
    df.write.parquet(src)
    fr = {"train": 0.7, "val": 0.3}
    expected = sorted((r["id"], r["split"])
                      for r in SMP.hash_split(df, "id", fr).collect())
    stream = spark.readStream.schema(df.schema).parquet(src)
    out = SMP.hash_split(stream, "id", fr)
    q = (out.writeStream.format("memory").queryName("split_out")
            .outputMode("append").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted((r["id"], r["split"]) for r in
                 spark.sql("SELECT * FROM split_out").collect())
    assert got == expected and len(got) > 0
