"""Training-data composition ops: sharding, sampling, mixture weights."""

from __future__ import annotations

from pyspark.sql import functions as F

from pathways2go_spark import dataops as DO


def _docs(spark, n=200):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("w "), F.repeat(F.lit("tok "), (F.col("id") % 7 + 1)
                 .cast("int"))).alias("text"),
        F.concat(F.lit("src"), (F.col("id") % 4).cast("string")).alias("source"),
    )


def test_shard_assignment_matches_serial_prefix(spark):
    docs = _docs(spark)
    out = DO.shard_assignment(docs, target_tokens=50, partitions=8)
    rows = sorted(
        ((r.doc_id, r.n_tokens, r.shard) for r in out.collect()),
    )
    # serial reference: exclusive prefix sum in doc_id order
    pref, want = 0, []
    for doc_id, n_tokens, _ in rows:
        want.append(pref // 50)
        pref += n_tokens
    assert [s for _, _, s in rows] == want
    # every doc in exactly one shard; shards contiguous from 0
    shards = {s for _, _, s in rows}
    assert shards == set(range(max(shards) + 1))
    # deterministic across partition counts (two-phase scan is
    # partitioning-independent)
    out2 = DO.shard_assignment(docs, target_tokens=50, partitions=3)
    assert sorted((r.doc_id, r.shard) for r in out2.collect()) == [
        (d, s) for d, _, s in rows
    ]


def test_shard_assignment_failure_deterministic(spark):
    """Shard assignment is a pure function of (ids, token counts) — no
    spark_partition_id pinning, no checkpoint: recomputing the plan from
    scratch (fresh lineage, different partition counts, string ids) must
    reproduce byte-identical shards, which is what makes executor loss
    after the boundary collect harmless."""
    docs = _docs(spark, 300).select(
        F.concat(F.lit("doc-"), F.lpad(F.col("doc_id").cast("string"), 5, "0"))
        .alias("doc_id"), "text", "source",
    )
    runs = [
        sorted((r.doc_id, r.n_tokens, r.shard) for r in
               DO.shard_assignment(docs, target_tokens=40, partitions=p)
               .collect())
        for p in (1, 5, 17)
    ]
    assert runs[0] == runs[1] == runs[2]
    # serial reference on string-id order
    pref = 0
    for (doc_id, n_tokens, shard) in runs[0]:
        assert shard == pref // 40
        pref += n_tokens
    # re-running the SAME plan object also reproduces itself (no hidden
    # state left over from the boundary collect)
    out = DO.shard_assignment(docs, target_tokens=40, partitions=5)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, out.collect()))


def test_sample_stratified_deterministic_and_bounded(spark):
    docs = _docs(spark, 2000)
    frac = {"src0": 1.0, "src1": 0.5, "src2": 0.0}
    kept = DO.sample_stratified(docs, frac, default=0.25)
    a = sorted(r.doc_id for r in kept.collect())
    b = sorted(r.doc_id for r in kept.collect())
    assert a == b  # pure function of (id, fraction)
    by_src = {r["source"]: r["n"] for r in kept.groupBy("source")
              .agg(F.count("*").alias("n")).collect()}
    assert by_src["src0"] == 500          # fraction 1.0 keeps all
    assert "src2" not in by_src           # fraction 0 keeps none
    assert 150 < by_src["src1"] < 350     # ~0.5 of 500
    assert 50 < by_src["src3"] < 200      # default 0.25 of 500


def test_mixture_weights_shape(spark):
    docs = _docs(spark, 400)
    mw = DO.mixture_weights(docs, {"src0": 0.5, "src1": 0.5},
                            strata_col="source")
    rows = {r.stratum: r for r in mw.collect()}
    assert set(rows) == {"src0", "src1", "src2", "src3"}
    # pure downsampling: max rate exactly 1, zero-target strata get 0
    assert max(r.sample_rate for r in rows.values()) == 1.0
    assert rows["src2"].sample_rate == 0.0
    assert abs(sum(r.actual_prop for r in rows.values()) - 1.0) < 1e-6


def test_pack_documents_greedy_invariants(spark):
    from pathways2go_spark.dataops import pack_documents

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    budget = 200
    out = pack_documents(docs, budget=budget, n_groups=4).collect()
    assert len(out) == docs.count()
    # every (grp, bin) respects the budget unless it holds a single
    # over-budget doc; bins are contiguous from 0 within each group
    bins = {}
    for r in out:
        bins.setdefault((r["grp"], r["bin_id"]), []).append(r["n_tokens"])
    for (g, b), toks in bins.items():
        assert sum(toks) <= budget or len(toks) == 1
    for g in {r["grp"] for r in out}:
        ids = sorted(b for (gg, b) in bins if gg == g)
        assert ids == list(range(len(ids)))
    # greedy is maximal: the first doc of bin k+1 did NOT fit in bin k.
    # Verify against a serial reference pack per group.
    import collections

    per_grp = collections.defaultdict(list)
    for r in out:
        per_grp[r["grp"]].append(r)
    for g, rows in per_grp.items():
        rows.sort(key=lambda r: r["doc_id"])
        bin_id, fill = 0, 0
        for i, r in enumerate(rows):
            if i > 0 and fill + r["n_tokens"] > budget:
                bin_id, fill = bin_id + 1, 0
            fill += r["n_tokens"]
            assert r["bin_id"] == bin_id
    # deterministic under physical repartitioning
    out2 = pack_documents(docs.repartition(13), budget=budget, n_groups=4).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_corpus_funnel_matches_stepwise_composition(spark):
    """corpus_funnel collapses quality -> repetition -> dedup ->
    decontamination into one plan; its census must equal composing the
    component ops (each individually oracle-EXACT) step by step."""
    from pyspark.sql import Window

    from pathways2go_spark.dedup import decontaminate
    from pathways2go_spark.textops import (
        quality_features, repetition_signals, token_count,
    )

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = d.filter(F.col("doc_id") % 29 == 0)
    train = d.filter(F.col("doc_id") % 29 != 0)
    out = {r["stage"]: r for r in DO.corpus_funnel(train, bench).collect()}
    order = ["raw", "quality", "repetition", "dedup_exact", "decontaminated"]
    assert [out[s]["stage_idx"] for s in order] == [0, 1, 2, 3, 4]
    seq = [out[s]["n_docs"] for s in order]
    assert seq[0] == train.count()
    assert all(a >= b for a, b in zip(seq, seq[1:]))  # a true funnel

    s1 = train.join(
        quality_features(train).filter("quality_ok").select("doc_id"), "doc_id"
    )
    s2 = s1.join(
        repetition_signals(train).filter("repetition_ok").select("doc_id"),
        "doc_id",
    )
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    s3 = s2.withColumn("rn", F.row_number().over(w)).filter("rn = 1").drop("rn")
    s4 = decontaminate(s3, bench, n=5, drop=True)
    assert seq[1:] == [s.count() for s in (s1, s2, s3, s4)]
    assert (
        out["decontaminated"]["n_tokens"]
        == s4.select(F.sum(token_count("text"))).first()[0]
    )


def test_repetition_signals(spark):
    from pathways2go_spark.textops import repetition_signals

    rows = [
        (1, "spam spam spam spam spam spam spam spam"),       # degenerate
        (2, "one two three four five six seven eight nine"),  # no repeats
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in repetition_signals(d).collect()}
    assert out[1]["top_word_frac"] == 1.0
    assert out[1]["dup_3gram_frac"] > 0.5
    assert not out[1]["repetition_ok"]
    assert out[2]["dup_3gram_frac"] == 0.0
    assert out[2]["repetition_ok"]


def test_dsir_weights_orders_by_target_similarity(spark):
    tgt = spark.createDataFrame(
        [(100, "alpha beta alpha beta"), (101, "alpha gamma beta")],
        ["doc_id", "text"],
    )
    raw = spark.createDataFrame(
        [
            (1, "alpha beta alpha"),   # target-like
            (2, "zz qq ww xx"),        # off-domain
            (3, "alpha beta alpha"),   # duplicate of 1 -> identical weight
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in DO.dsir_weights(raw, tgt).collect()}
    # same text, same weight; target-like beats off-domain
    assert out[1]["log_weight"] == out[3]["log_weight"]
    assert out[1]["log_weight"] > out[2]["log_weight"]
    # n_feats = unigrams + bigrams = 3 + 2
    assert out[1]["n_feats"] == 5
    # physical-partitioning invariance (sorted-fold determinism)
    out2 = {r["doc_id"]: r for r in
            DO.dsir_weights(raw.repartition(7), tgt.repartition(5)).collect()}
    assert {k: v["log_weight"] for k, v in out.items()} == {
        k: v["log_weight"] for k, v in out2.items()
    }


def test_cap_per_key_exact_survivor_set(spark):
    """The salted two-phase top-cap must select EXACTLY the cap
    smallest (md5(id), id) per key — compare against the plain
    single-window rank."""
    from pyspark.sql import Window

    docs = _docs(spark, 200)  # 4 sources x 50 docs
    got = DO.cap_per_key(docs, cap=7, key_col="source", id_col="doc_id")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    want = (
        docs.withColumn("r", F.row_number().over(w))
        .filter("r <= 7")
        .drop("r")
    )
    assert sorted(r.doc_id for r in got.collect()) == sorted(
        r.doc_id for r in want.collect()
    )
    per_key = {r.source: r.n for r in
               got.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert per_key == {f"src{i}": 7 for i in range(4)}


def test_cap_per_key_under_cap_passthrough_and_salt_invariance(spark):
    docs = _docs(spark, 20)  # 4 sources x 5 docs, cap above size
    got = DO.cap_per_key(docs, cap=10, key_col="source", id_col="doc_id")
    assert got.count() == 20
    # survivor set must not depend on the salt count
    a = sorted(r.doc_id for r in DO.cap_per_key(
        _docs(spark, 120), 5, salts=2).collect())
    b = sorted(r.doc_id for r in DO.cap_per_key(
        _docs(spark, 120), 5, salts=32).collect())
    assert a == b


def test_cap_per_key_rejects_bad_cap(spark):
    import pytest

    with pytest.raises(ValueError):
        DO.cap_per_key(_docs(spark, 10), cap=0)


def test_weighted_sample_matches_serial_aes(spark):
    """The survivor set must equal a serial A-ES replay: samp_key =
    round9(-ln((md5_top32(id)+1)/2^32) / w), k smallest per group with
    id tiebreak."""
    import hashlib
    import math

    docs = _docs(spark).withColumn(
        "w", (F.col("doc_id") % 10 + 1).cast("double")
    )
    got = sorted(
        (r.source, r.doc_id, r.rank)
        for r in DO.weighted_sample(
            docs, k=3, weight_col="w", id_col="doc_id", keys=["source"]
        ).collect()
    )
    rows = [(i, f"src{i % 4}", float(i % 10 + 1)) for i in range(200)]
    keyed = []
    for i, src, w in rows:
        h = int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16)
        u = (h + 1) / 4294967296.0
        key = math.floor((-math.log(u) / w) * 1e9 + 0.5) / 1e9
        keyed.append((src, key, i))
    want = []
    for src in {s for _, s, _ in rows}:
        grp = sorted((k, i) for s, k, i in keyed if s == src)[:3]
        want.extend((src, i, rank + 1) for rank, (_, i) in enumerate(grp))
    assert got == sorted(want)


def test_weighted_sample_salt_invariance_and_guards(spark):
    import pytest

    docs = _docs(spark).withColumn("w", F.lit(2.0))
    a = sorted(r.doc_id for r in DO.weighted_sample(
        docs, k=5, weight_col="w", keys=["source"], salts=4).collect())
    b = sorted(r.doc_id for r in DO.weighted_sample(
        docs, k=5, weight_col="w", keys=["source"], salts=16).collect())
    assert a == b
    # weight <= 0 / null rows are excluded (inclusion probability 0)
    bad = docs.withColumn(
        "w",
        F.when(F.col("doc_id") < 100, F.lit(None).cast("double"))
        .when(F.col("doc_id") < 150, F.lit(-1.0))
        .otherwise(F.lit(0.0)),
    )
    assert DO.weighted_sample(bad, k=5, weight_col="w").count() == 0
    with pytest.raises(ValueError):
        DO.weighted_sample(docs, k=0, weight_col="w")


def test_weighted_sample_favors_heavy_weights(spark):
    """A row whose weight dwarfs every other must be selected: its key
    -ln(u)/w is smaller than any unit-weight row's unless u == 1 (md5
    of '7' is not 2^32-1)."""
    docs = _docs(spark, n=50).withColumn(
        "w", F.when(F.col("doc_id") == 7, 1e9).otherwise(1.0)
    )
    picked = {r.doc_id for r in DO.weighted_sample(
        docs, k=3, weight_col="w").collect()}
    assert 7 in picked


def test_epoch_order_is_bucket_major_and_epoch_distinct(spark):
    from pyspark.sql import functions as F

    from pathways2go_spark.dataops import epoch_order

    docs = spark.range(300).select(F.col("id").alias("doc_id"))
    out = epoch_order(docs, epochs=2)
    rows = out.collect()
    by_epoch: dict[int, list] = {}
    for r in rows:
        by_epoch.setdefault(r["epoch"], []).append(r)
    assert set(by_epoch) == {0, 1}
    for ep, rs in by_epoch.items():
        assert len(rs) == 300
        # global_pos is a permutation of 1..n
        gps = sorted(r["global_pos"] for r in rs)
        assert gps == list(range(1, 301))
        # bucket-major: sorting by (bucket, pos) == sorting by global_pos
        order_a = [r["doc_id"] for r in sorted(
            rs, key=lambda r: (r["bucket"], r["pos"]))]
        order_b = [r["doc_id"] for r in sorted(
            rs, key=lambda r: r["global_pos"])]
        assert order_a == order_b
    # different epochs produce different permutations
    p0 = [r["doc_id"] for r in sorted(by_epoch[0], key=lambda r: r["global_pos"])]
    p1 = [r["doc_id"] for r in sorted(by_epoch[1], key=lambda r: r["global_pos"])]
    assert p0 != p1 and sorted(p0) == sorted(p1)
    # partition-count invariance (failure determinism)
    out4 = epoch_order(docs.repartition(7), epochs=2)
    assert sorted(map(tuple, out4.collect())) == sorted(map(tuple, rows))


def test_bench_heads_are_registered_queries():
    """bench.py's head list must stay a subset of queries() — a renamed
    or dropped query would otherwise break the driver's BENCH run."""
    import ast
    import os
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    import __spark_entry__ as E

    src = open(os.path.join(root, "bench.py")).read()
    tree = ast.parse(src)
    heads = None
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign):
            for t in node.targets:
                if getattr(t, "id", None) == "heads":
                    heads = [
                        c.value for c in node.value.elts
                        if isinstance(c, ast.Constant)
                    ]
    assert heads, "bench.py heads list not found"
    missing = [h for h in heads if h not in E.queries()]
    assert not missing, missing


def test_budget_allocation_water_fill(spark):
    from pathways2go_spark import dataops as DO

    rows = (
        [("small", 10)] + [("mid", 20)] + [("big", 1000)]
    )
    df = spark.createDataFrame(rows, "source string, n_tokens long")
    # budget = 1030 // 2 = 515: small+mid fit whole, big clips to 485
    got = {r["source"]: r for r in DO.budget_allocation(df, 1, 2).collect()}
    assert got["small"]["alloc"] == 10 and not got["small"]["capped"]
    assert got["mid"]["alloc"] == 20 and not got["mid"]["capped"]
    assert got["big"]["alloc"] == 485 and got["big"]["capped"]
    assert sum(r["alloc"] for r in got.values()) == 515
    # budget covers the corpus: nothing capped, allocation == tokens
    full = {r["source"]: r for r in DO.budget_allocation(df, 2, 1).collect()}
    assert all(not r["capped"] for r in full.values())
    assert all(r["alloc"] == r["tokens"] for r in full.values())
